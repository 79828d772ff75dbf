package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{DurableIndex, Tables}

/** Corpus-cleaning operators for the training-data pipeline: PII
  * redaction and intra-document repetition metrics (the Gopher-style
  * repetition filters).
  *
  * Both are pure per-row `Column` expressions — whole-stage codegen, no
  * UDFs, no shuffle; at 100 TB they stream through the scan at parquet
  * read speed with the projection pruned to the columns used.
  */
object Scrub {

  // -------------------------------------------------------- PII redaction

  /** The testdata corpus is deliberately sterile (no emails/phones), so
    * the PII-bearing column is DERIVED deterministically from real
    * customer columns — phone present for even keys, email for keys
    * divisible by 3 — and the operator under test is the redaction
    * cascade itself: email → [EMAIL], NNN-NNN-NNNN → [PHONE],
    * 6+-digit runs (the Customer#NNNNNNNNN id) → [ID], with per-row
    * match counts. Replacement order matters and is pinned: emails
    * first (so their digits can't be eaten as ids), then phones, then
    * bare id runs. */
  private val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  private val IdRe    = "\\d{6,}"

  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val phonePart = when((col("c_custkey") % 2) === 0,
      concat(lit(" phone 555-"),
        lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((col("c_nationkey") * 37) % 10000).cast("string"), 4, "0")))
      .otherwise("")
    val emailPart = when((col("c_custkey") % 3) === 0,
      concat(lit(" contact user"), col("c_custkey").cast("string"),
        lit("@example.com")))
      .otherwise("")
    val profile = concat(col("c_name"), phonePart, emailPart)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(profile, EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"),
        IdRe, "[ID]")
    Tables.customer(s, d).select(
      col("c_custkey"),
      redacted.as("redacted"),
      regexp_count(profile, lit(EmailRe)).as("n_email"),
      regexp_count(profile, lit(PhoneRe)).as("n_phone"),
      regexp_count(profile, lit(IdRe)).as("n_id"))
  }

  val piiRedactSql: String = {
    val profile =
      "c_name || " +
        "(CASE WHEN c_custkey % 2 = 0 THEN ' phone 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST((c_nationkey * 37) % 10000 AS VARCHAR), 4, '0') ELSE '' END) || " +
        "(CASE WHEN c_custkey % 3 = 0 THEN ' contact user' || CAST(c_custkey AS VARCHAR) || '@example.com' ELSE '' END)"
    s"WITH p AS (SELECT c_custkey, $profile AS profile FROM customer) " +
      "SELECT c_custkey, " +
      s"regexp_replace(regexp_replace(regexp_replace(profile, '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'), '$IdRe', '[ID]', 'g') AS redacted, " +
      s"CAST(len(regexp_extract_all(profile, '$EmailRe')) AS INT) AS n_email, " +
      s"CAST(len(regexp_extract_all(profile, '$PhoneRe')) AS INT) AS n_phone, " +
      s"CAST(len(regexp_extract_all(profile, '$IdRe')) AS INT) AS n_id " +
      "FROM p"
  }

  // ------------------------------------------------- decontamination

  /** Benchmark-decontamination scan: which corpus documents share word
    * n-grams with a held-out "benchmark" set (here: a deterministic
    * doc_id-stride subset standing in for an eval suite). The classic
    * pre-training hygiene op: hash each side's distinct n-grams, inner
    * hash-join on the n-gram hash, count matches per (corpus doc, bench
    * doc).
    *
    * Scale shape: both sides are exploded to (doc, gram_hash) and meet
    * in ONE shuffle keyed by the hash — never doc × doc. The benchmark
    * side is tiny (an eval suite), so at 100 TB Catalyst broadcasts it
    * and the corpus side streams map-side; grams travel as md5 strings
    * (16 bytes), not raw n-gram text. */
  val DecontamN      = 8
  val BenchStride    = 10 // 10% held-out slice — catches real near-dup
  val BenchOffset    = 3  // contamination in the driver corpus (n_shared up to 86)

  // r13: native codegen expression — the decontamination gram scans sit
  // on full corpora; see graft.functions.WordGramsDistinctExpr
  private def gramsCol(text: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.wordGramsDistinct(text, DecontamN)

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    // Two branches over the gram table, met by a hash join on the gram
    // md5. The bench side is the natural build side (an eval suite is
    // small relative to the corpus), but it is NOT hinted: this bench
    // slice is a fixed fraction of the corpus, so a pinned broadcast()
    // would OOM the executors once the slice outgrows memory — the same
    // anti-pattern q19's verify stage removed in r4. AQE sees the
    // runtime size and picks broadcast while the side is actually
    // small. An r4 experiment fused this into one groupBy(gh) +
    // collect_set pass — "one scan" but it forced a full shuffle of
    // every corpus gram row, 3.4× slower at sf0.1. Pushing the bench
    // filter INTO the scan (doc_id % stride) keeps the double scan
    // cheap; at 100 TB the bench grams are a persisted side table.
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), explode(gramsCol(col("text"))).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("gh"))
    val bench = grams.filter(col("doc_id") % BenchStride === BenchOffset)
      .select(col("doc_id").as("bench_id"), col("gh"))
    val corpus = grams.filter(col("doc_id") % BenchStride =!= BenchOffset)
    corpus.join(bench, "gh")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  val decontaminateSql: String = {
    val n = DecontamN
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS w FROM documents),
       |gr AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')]
       |  ELSE [array_to_string(w[i:i+${n - 1}], ' ') for i in range(1, len(w) - ${n - 2})] END)) AS gram FROM ws),
       |gh AS (SELECT doc_id, md5(gram) AS gh FROM gr),
       |bench AS (SELECT doc_id AS bench_id, gh FROM gh WHERE doc_id % $BenchStride = $BenchOffset),
       |corpus AS (SELECT doc_id, gh FROM gh WHERE doc_id % $BenchStride <> $BenchOffset)
       |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
       |FROM corpus c JOIN bench b ON c.gh = b.gh GROUP BY c.doc_id, b.bench_id""".stripMargin.replace("\n", " ")
  }

  // ------------------------------- bloom-prefiltered decontamination

  /** Benchmark decontamination with a RUNTIME-FILTER shape: build a
    * ~32 KB Bloom sketch over the bench side's gram hashes (distributed
    * [[graft.functions.Bloom.BloomAgg]], OR-merged partials), broadcast
    * the bits, prefilter the corpus grams MAP-SIDE, and only the
    * survivors (true matches + the sketch's small false-positive set)
    * enter the exact hash join that q46 pays for every gram. The exact
    * join kills the false positives, so the output is EXACT — the bloom
    * stage only changes how many rows move, which is the entire game at
    * 100 TB: shuffle volume drops by the true-negative rate (~99% here)
    * for 32 KB of broadcast.
    *
    * Output: per corpus doc, how many of its distinct 8-grams appear
    * anywhere in the bench slice. The one-row sketch collect is bounded
    * (32 KB) and the only driver-side state. */
  /** One sketch per (application, dataset dir), memoized: the sketch
    * build is an eager action, and warmup + timed + verify passes over
    * the same dataset would otherwise each build AND leak a fresh
    * `broadcast()` (`catalog.clearCache()` releases cached plans, not
    * broadcast blocks — the leak ADVICE r4 flagged). The applicationId
    * in the key keeps a restarted SparkSession in the same JVM (tests,
    * session-per-tool mains) from reusing a broadcast bound to a dead
    * SparkContext (ADVICE r6). Assumes the data under a dir is
    * immutable for the life of the application — true for the snapshot
    * dirs here; content-addressed dirs are the production analogue. The
    * map holds one entry per (app, dataset) this JVM touches (2-3 in
    * practice), each ≤ MaxBits/8 bytes. */
  private val sketchCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String), (org.apache.spark.broadcast.Broadcast[Array[Long]], Int)]()

  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    def grams = Tables.documents(s, d)
      .select(col("doc_id"), explode(gramsCol(col("text"))).as("gram"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5Lower64(col("gram")).as("gh"))
    val isBench = col("doc_id") % BenchStride === BenchOffset
    val benchGh = grams.filter(isBench).select("gh").distinct()
    val (bc, numBits) = sketchCache.computeIfAbsent((s.sparkContext.applicationId, d), _ => {
      // Size the sketch from the measured key count (ADVICE r4: a
      // static size saturates when the keyed side grows with SF —
      // FP → 1 and the prefilter degrades to pure overhead). The
      // sizing count and the sketch build share one cached pass.
      val keyed = benchGh.persist()
      val nKeys = keyed.count()
      val bits0 = graft.functions.Bloom.sizeFor(nKeys)
      val bloomUdaf =
        udaf(new graft.functions.Bloom.BloomAgg(bits0), Encoders.scalaLong)
      val bits = keyed.agg(bloomUdaf(col("gh"))).head.getSeq[Long](0).toArray
      keyed.unpersist()
      System.err.println(
        f"[bloom] $d: keys=$nKeys numBits=$bits0 " +
          f"fill=${graft.functions.Bloom.fillRatio(bits)}%.3f")
      (s.sparkContext.broadcast(bits), bits0)
    })
    val mightContain = udf { (gh: Long) =>
      graft.functions.Bloom.mightContain(bc.value, gh, numBits)
    }
    grams.filter(!isBench)
      .filter(mightContain(col("gh")))  // map-side bloom prefilter
      .join(benchGh, "gh")              // exact verify (kills FPs); AQE
      .groupBy("doc_id")                // broadcasts while actually small
      .agg(count(lit(1)).as("n_flagged"))
  }

  /** Oracle: the exact semantics the bloom pipeline must reproduce —
    * distinct corpus grams counted when present in the bench gram set
    * (the 64-bit md5 slice is the join key in both engines). */
  val bloomDecontaminateSql: String = {
    val n = DecontamN
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS w FROM documents),
       |gr AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')]
       |  ELSE [array_to_string(w[i:i+${n - 1}], ' ') for i in range(1, len(w) - ${n - 2})] END)) AS gram FROM ws),
       |gh AS (SELECT doc_id, md5_number_lower(gram) AS gh FROM gr),
       |bench AS (SELECT DISTINCT gh FROM gh WHERE doc_id % $BenchStride = $BenchOffset)
       |SELECT doc_id, count(*) AS n_flagged
       |FROM gh JOIN bench USING (gh)
       |WHERE doc_id % $BenchStride <> $BenchOffset
       |GROUP BY doc_id""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------------------- corpus curation

  /** The end-to-end curation KEEP-LIST — what an actual training-data
    * build runs nightly, composed from the pipeline's own operators:
    * keep a document iff it (1) is the lowest-id holder of its
    * canonical fingerprint (exact-dedup survivor, q25's key), (2) passes
    * the quality gate (q23's 'good'), (3) is not itself benchmark
    * material, and (4) shares no 8-gram with the benchmark slice (q46).
    *
    * Plan shape: one window over the fingerprint hash (same shuffle key
    * as exact dedup), a semi-join on the quality gate, an anti-join on
    * the contaminated set — all keyed on doc_id, so AQE lines the last
    * two up on one exchange layout; nothing is quadratic. */
  def curatedCorpus(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // quality gate INLINED into the main scan (r4): q23's 'good' verdict
    // is a pure per-row predicate on the same table, so evaluating it in
    // place removes a second documents scan and a semi-join exchange —
    // the oracle still phrases it as the semi-join, same rows out.
    val nTok = size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    val stopPred = Seq("the", "a", "of", "and", "is", "to")
      .map(w => s"t = '$w'").mkString(" OR ")
    val nStop = size(expr(s"filter(split(text, ' '), t -> $stopPred)"))
    // q23's quality cut in integer space (5·n_stop < 3·n_tok ⟺
    // ratio < 0.6) so this inlined gate matches the oracle's
    // (now integer-exact) qualitySql row-for-row at ties (FLOAT RULE)
    val isGood = nTok >= 20 &&
      nStop.cast("long") * 5 < nTok.cast("long") * 3
    val contaminated = decontaminate(s, d).select("doc_id").distinct()
    docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keep_id") &&
        col("doc_id") % BenchStride =!= BenchOffset && isGood)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  val curatedCorpusSql: String =
    "WITH fpk AS (SELECT doc_id, lang, source, n_chars, " +
      "min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS keep_id FROM documents), " +
      s"good AS (SELECT doc_id FROM (${TextQueries.qualitySql}) WHERE quality = 'good'), " +
      s"cont AS (SELECT DISTINCT doc_id FROM ($decontaminateSql)) " +
      "SELECT doc_id, lang, source, n_chars FROM fpk " +
      s"WHERE doc_id = keep_id AND doc_id % $BenchStride <> $BenchOffset " +
      "AND doc_id IN (SELECT doc_id FROM good) " +
      "AND doc_id NOT IN (SELECT doc_id FROM cont)"

  /** q190 — CURATION ATTRITION WATERFALL: the funnel report every
    * curation pipeline publishes next to its keep-list — per (source,
    * stage), how many docs the q48 pipeline drops at each gate, with
    * FIRST-failure attribution in the pipeline's own order (exact-dup →
    * benchmark-overlap → quality → contamination → kept), so the five
    * stage counts partition the corpus exactly and Σ n_docs = |docs|
    * per source. q48 answers "what survives"; this answers "WHY the
    * rest didn't" — the number a curator reads before touching any
    * threshold, and the per-source breakdown that exposes a crawl
    * source whose mass dies at one gate.
    *
    * Same plan as q48 (the stages are the SAME expressions, evaluated
    * under one scan: fp window, stride check, inlined integer quality
    * predicate, contamination anti-set as a left join) plus nothing —
    * the report grain is |sources|×5, so the waterfall costs exactly
    * one CASE more than the filter it explains. */
  def curationWaterfall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nTok = size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    val stopPred = Seq("the", "a", "of", "and", "is", "to")
      .map(w => s"t = '$w'").mkString(" OR ")
    val nStop = size(expr(s"filter(split(text, ' '), t -> $stopPred)"))
    val isGood = nTok >= 20 &&
      nStop.cast("long") * 5 < nTok.cast("long") * 3
    val contaminated = decontaminate(s, d).select("doc_id").distinct()
      .withColumn("is_cont", lit(1))
    docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("doc_id") =!= col("keep_id"), "1_exact_dup")
          .when(col("doc_id") % BenchStride === BenchOffset, "2_benchmark_overlap")
          .when(!isGood, "3_low_quality")
          .when(col("is_cont") === 1, "4_contaminated")
          .otherwise("5_kept"))
      .groupBy("source", "stage")
      .agg(count(lit(1)).as("n_docs"))
  }

  val curationWaterfallSql: String =
    "WITH fpk AS (SELECT doc_id, source, " +
      "min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS keep_id FROM documents), " +
      s"good AS (SELECT doc_id FROM (${TextQueries.qualitySql}) WHERE quality = 'good'), " +
      s"cont AS (SELECT DISTINCT doc_id FROM ($decontaminateSql)) " +
      "SELECT source, CASE WHEN doc_id <> keep_id THEN '1_exact_dup' " +
      s"WHEN doc_id % $BenchStride = $BenchOffset THEN '2_benchmark_overlap' " +
      "WHEN doc_id NOT IN (SELECT doc_id FROM good) THEN '3_low_quality' " +
      "WHEN doc_id IN (SELECT doc_id FROM cont) THEN '4_contaminated' " +
      "ELSE '5_kept' END AS stage, CAST(count(*) AS BIGINT) AS n_docs " +
      "FROM fpk GROUP BY 1, 2"

  // ------------------------------------- gate Shapley attribution

  /** q244 — EXACT SHAPLEY ATTRIBUTION of the four q48 curation gates:
    * how much of the removed corpus mass is each gate RESPONSIBLE
    * for, fairly? q190's waterfall attributes every doc to its FIRST
    * failing gate in pipeline order — an ordering artifact: a doc
    * failing both quality and contamination counts wholly against
    * whichever gate happens to run first. The Shapley value (the
    * unique attribution satisfying efficiency/symmetry/dummy —
    * Shapley 1953) averages each gate's marginal removal over ALL
    * 4! gate orders, so shared blame splits evenly and Σφ = total
    * removed EXACTLY (the efficiency axiom, pinned in the spec).
    *
    * Exact and integer: per doc a 4-bit FAIL MASK (1=exact-dup,
    * 2=benchmark-slice, 4=low-quality, 8=contaminated — q190's exact
    * flag expressions, evaluated independently rather than
    * first-failure); the game value v(S) = #docs with mask∧S ≠ 0
    * (docs the coalition of gates S removes) is determined by the
    * 16-cell mask histogram, and φ_g·4! = Σ_{S∌g} |S|!(3−|S|)!·
    * |{m : m∧S=0, m∧g≠0}| is an exact BIGINT — ships as phi_x24
    * (denominator 24) plus a div-1000 milli view, with the naive
    * per-gate flag count alongside for contrast.
    *
    * Scale shape: ONE corpus scan builds the mask (same window/join
    * exchanges as q48/q190 — fp window, quality inline, decontam
    * anti-set); everything after is grid math over 16 histogram
    * cells × 16 subsets × 4 gates, independent of corpus size. */
  def gateShapley(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nTok = size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    val stopPred = Seq("the", "a", "of", "and", "is", "to")
      .map(w => s"t = '$w'").mkString(" OR ")
    val nStop = size(expr(s"filter(split(text, ' '), t -> $stopPred)"))
    val isGood = nTok >= 20 &&
      nStop.cast("long") * 5 < nTok.cast("long") * 3
    val contaminated = decontaminate(s, d).select("doc_id").distinct()
      .withColumn("is_cont", lit(1))
    val hist = docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
      .join(contaminated, Seq("doc_id"), "left")
      .select((
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L) +
        when(col("doc_id") % BenchStride === BenchOffset, 2L).otherwise(0L) +
        when(!isGood, 4L).otherwise(0L) +
        when(col("is_cont") === 1, 8L).otherwise(0L)).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // ≤ 16 rows; feeds two grid joins
    import s.implicits._
    val gates = Seq(
      (1L, "exact_dup"), (2L, "benchmark_overlap"),
      (4L, "low_quality"), (8L, "contaminated"))
      .toDF("g", "gate")
    val subsets = s.range(0, 16).toDF("sub")
    // |S|!·(3−|S|)! over |S| = popcount(sub): 0→6, 1→2, 2→2, 3→6
    val phi = gates
      .crossJoin(subsets).filter(expr("(g & sub) = 0"))
      .crossJoin(hist)
      .filter(expr("(mask & sub) = 0 AND (mask & g) <> 0"))
      .withColumn("w", expr(s"CASE $PopcountSub WHEN 0 THEN 6 " +
        "WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"))
      .groupBy("gate").agg(sum(expr("w * cnt")).as("phi_x24"))
    val flagged = gates
      .crossJoin(hist).filter(expr("(mask & g) <> 0"))
      .groupBy("gate").agg(sum("cnt").as("n_flagged"))
    gates.select("gate")
      .join(flagged, Seq("gate"), "left")
      .join(phi, Seq("gate"), "left")
      .select(col("gate"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("phi_x24"), lit(0L)).as("phi_x24"),
        expr("coalesce(phi_x24, 0) * 1000 div 24").as("phi_milli"))
  }

  private val PopcountSub: String =
    "((sub % 2) + ((sub div 2) % 2) + ((sub div 4) % 2) + ((sub div 8) % 2))"

  val gateShapleySql: String = {
    val pc = "((sub % 2) + ((sub // 2) % 2) + ((sub // 4) % 2) + ((sub // 8) % 2))"
    "WITH fpk AS (SELECT doc_id, " +
      "min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS keep_id FROM documents), " +
      s"good AS (SELECT doc_id FROM (${TextQueries.qualitySql}) WHERE quality = 'good'), " +
      s"cont AS (SELECT DISTINCT doc_id FROM ($decontaminateSql)), " +
      "f AS (SELECT CAST((CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) " +
      s"+ (CASE WHEN doc_id % $BenchStride = $BenchOffset THEN 2 ELSE 0 END) " +
      "+ (CASE WHEN doc_id NOT IN (SELECT doc_id FROM good) THEN 4 ELSE 0 END) " +
      "+ (CASE WHEN doc_id IN (SELECT doc_id FROM cont) THEN 8 ELSE 0 END) AS BIGINT) AS mask FROM fpk), " +
      "h AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY 1), " +
      "sub AS (SELECT CAST(range AS BIGINT) AS sub FROM range(0, 16)), " +
      "gt AS (SELECT CAST(g AS BIGINT) AS g, gate FROM (VALUES " +
      "(1, 'exact_dup'), (2, 'benchmark_overlap'), (4, 'low_quality'), " +
      "(8, 'contaminated')) AS t(g, gate)), " +
      "phi AS (SELECT gate, CAST(sum((CASE " + pc + " WHEN 0 THEN 6 " +
      "WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END) * cnt) AS BIGINT) AS phi_x24 " +
      "FROM gt JOIN sub ON (g & sub) = 0 " +
      "JOIN h ON (mask & sub) = 0 AND (mask & g) <> 0 GROUP BY 1), " +
      "nf AS (SELECT gate, CAST(sum(cnt) AS BIGINT) AS n_flagged " +
      "FROM gt JOIN h ON (mask & g) <> 0 GROUP BY 1) " +
      "SELECT gt.gate, coalesce(nf.n_flagged, 0) AS n_flagged, " +
      "coalesce(phi.phi_x24, 0) AS phi_x24, " +
      "CAST(coalesce(phi.phi_x24, 0) * 1000 // 24 AS BIGINT) AS phi_milli " +
      "FROM gt LEFT JOIN nf ON nf.gate = gt.gate " +
      "LEFT JOIN phi ON phi.gate = gt.gate"
  }

  // ------------------------------------ leave-one-source-out ablation

  /** q207 — LEAVE-ONE-SOURCE-OUT CURATION ABLATION: for every source,
    * the EXACT kept-corpus size if that source were dropped from the
    * q48 pipeline — the source-ablation table a mixture owner reads
    * before renegotiating a feed (q107 scores sources by quality LIFT;
    * this scores them by marginal CONTRIBUTION, dedup effects
    * included). The subtlety that makes naive per-source subtraction
    * WRONG is rep promotion: q48 keeps each duplicate cluster's
    * min-doc_id rep, so dropping a source re-crowns clusters it used
    * to represent, and the new rep may pass gates the old one failed
    * (or vice versa).
    *
    * Exact in ONE pass by the two-extrema trick: per cluster, only
    * the global rep m1 and the first rep from any OTHER source m2
    * matter — dropping s ≠ m1.source changes nothing; dropping
    * m1.source crowns exactly m2 (the min over other sources).
    * kept_without(s) = K_full − Σ_{m1.src=s} pass(m1) +
    * Σ_{m1.src=s} pass(m2). Per-doc gates (quality, benchmark slice,
    * contamination vs the FIXED eval set) are rep-independent, so
    * they ride as one flag column.
    *
    * Scale shape: two (fp)-keyed aggregates on the same key (one
    * exchange layout, AQE-reused) + a source-grain rollup + one
    * broadcast scalar. Output is |sources| rows; nothing after the
    * fp aggregates is corpus-sized. */
  def sourceAblation(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nTok = size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    val stopPred = Seq("the", "a", "of", "and", "is", "to")
      .map(w => s"t = '$w'").mkString(" OR ")
    val nStop = size(expr(s"filter(split(text, ' '), t -> $stopPred)"))
    val isGood = nTok >= 20 &&
      nStop.cast("long") * 5 < nTok.cast("long") * 3
    val contaminated = decontaminate(s, d).select("doc_id").distinct()
      .withColumn("is_cont", lit(1))
    val flagged = docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("pass",
        when(isGood && col("doc_id") % BenchStride =!= BenchOffset &&
          col("is_cont").isNull, 1L).otherwise(0L))
      .select("fp", "doc_id", "source", "pass")
      .localCheckpoint(true) // read twice: m1 and the m2 re-join
    val m1 = flagged.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("source"), col("pass"))).as("m1"))
      .localCheckpoint(true)
    val m2 = flagged.join(m1, "fp")
      .filter(col("source") =!= col("m1.source"))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("source"), col("pass"))).as("m2"))
    val bySrc = m1.join(m2, Seq("fp"), "left")
      .groupBy(col("m1.source").as("source"))
      .agg(count(lit(1)).as("n_reps"),
        sum(col("m1.pass")).as("n_kept_reps"),
        sum(coalesce(col("m2.pass"), lit(0L))).as("n_promoted_kept"))
    val kFull = bySrc.agg(sum("n_kept_reps").as("k_full"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(bySrc, Seq("source"), "left")
      .na.fill(0L, Seq("n_reps", "n_kept_reps", "n_promoted_kept"))
      .crossJoin(broadcast(kFull))
      .select(col("source"), col("n_docs"), col("n_reps"), col("n_kept_reps"),
        (col("k_full") - col("n_kept_reps") + col("n_promoted_kept"))
          .as("kept_without"),
        (col("n_promoted_kept") - col("n_kept_reps")).as("delta_kept"))
  }

  val sourceAblationSql: String =
    s"""WITH f AS (SELECT doc_id, source,
       |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents),
       |good AS (SELECT doc_id FROM (${TextQueries.qualitySql}) WHERE quality = 'good'),
       |cont AS (SELECT DISTINCT doc_id FROM ($decontaminateSql)),
       |fl AS (SELECT f.fp, f.doc_id, f.source,
       |  CASE WHEN f.doc_id % $BenchStride <> $BenchOffset
       |    AND f.doc_id IN (SELECT doc_id FROM good)
       |    AND f.doc_id NOT IN (SELECT doc_id FROM cont)
       |  THEN 1 ELSE 0 END AS pass FROM f),
       |m1 AS (SELECT fp, doc_id, source, pass FROM (SELECT fl.*,
       |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fl)
       |  WHERE rn = 1),
       |m2 AS (SELECT fp, pass FROM (SELECT fl.fp, fl.pass,
       |  row_number() OVER (PARTITION BY fl.fp ORDER BY fl.doc_id) AS rn
       |  FROM fl JOIN m1 ON fl.fp = m1.fp AND fl.source <> m1.source)
       |  WHERE rn = 1),
       |by_src AS (SELECT m1.source, count(*) AS n_reps,
       |  CAST(sum(m1.pass) AS BIGINT) AS n_kept_reps,
       |  CAST(sum(coalesce(m2.pass, 0)) AS BIGINT) AS n_promoted
       |  FROM m1 LEFT JOIN m2 ON m1.fp = m2.fp GROUP BY 1),
       |kf AS (SELECT CAST(sum(n_kept_reps) AS BIGINT) AS k_full FROM by_src),
       |sz AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT sz.source, sz.n_docs,
       |  CAST(coalesce(b.n_reps, 0) AS BIGINT) AS n_reps,
       |  coalesce(b.n_kept_reps, 0) AS n_kept_reps,
       |  kf.k_full - coalesce(b.n_kept_reps, 0) + coalesce(b.n_promoted, 0)
       |    AS kept_without,
       |  coalesce(b.n_promoted, 0) - coalesce(b.n_kept_reps, 0) AS delta_kept
       |FROM sz LEFT JOIN by_src b ON sz.source = b.source CROSS JOIN kf"""
      .stripMargin.replace("\n", " ")

  // ------------------------------------------------ cross-doc chunk dedup

  /** Cross-document repeated-chunk removal — the line-level dedup of
    * CCNet/RefinedWeb, with q39's fixed 256-char chunks standing in for
    * lines (the corpus has no newlines). A chunk is dropped when its
    * hash occurs in ≥ 2 DISTINCT documents; per-doc survival stats come
    * out as the keep-list signal.
    *
    * Plan shape: chunk-explode → one hash aggregate keyed on chunk_hash
    * (count distinct docs, map-side partial), join back on chunk_hash
    * (same key → AQE reuses the exchange layout), then one aggregate
    * keyed on doc_id. Everything moves as 16-byte md5s; no pair
    * explosion anywhere, so it scales as O(total chunks), and the
    * boilerplate chunks shared by thousands of docs are exactly the
    * rows the first aggregate collapses. */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = TextQueries.chunkDocs(s, d)
      .select("doc_id", "chunk_hash")
    val docFreq = chunks.groupBy("chunk_hash")
      .agg(countDistinct("doc_id").as("n_docs"))
    chunks.join(docFreq, "chunk_hash")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") === 1, 1).otherwise(0)).as("n_kept"))
      // kept_frac ships as k/10⁴ from half-up integer arithmetic —
      // round(int-ratio, 4) is the cross-engine tie trap (FLOAT RULE,
      // see CorpusOps.tokenBudget)
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        (expr("(n_kept * 10000 + n_chunks div 2) div n_chunks")
          .cast("double") / 10000.0).as("kept_frac"))
  }

  val chunkDedupSql: String =
    s"WITH chunks AS (SELECT doc_id, chunk_hash FROM (${TextQueries.chunkDocsSql})), " +
      "df AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chunk_hash) " +
      "SELECT c.doc_id, count(*) AS n_chunks, " +
      "CAST(sum(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "CAST((sum(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) * 10000 + count(*) // 2) // count(*) AS DOUBLE) / 10000.0 AS kept_frac " +
      "FROM chunks c JOIN df USING (chunk_hash) GROUP BY c.doc_id"

  // ------------------------------------------------- repetition metrics

  /** Gopher-style repetition filters over `documents`: fraction of
    * whitespace tokens belonging to duplicate token types, fraction in
    * the single most-frequent token, and distinct-token ratio; verdict
    * 'repetitive' when dup mass dominates. All computed with array HOFs
    * (aggregate/map over the token list) — per-row, codegen-planned, no
    * explode+groupBy shuffle. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val toks = col("toks")
    val dist = array_distinct(toks)
    // per-distinct-token occurrence counts: O(n_tok · n_distinct) per row,
    // fine for web-page-sized docs; book-length inputs would switch to
    // explode → groupBy(doc_id, token) (one shuffle) instead
    val counts  = transform(dist, t => size(filter(toks, x => x === t)))
    val dupMass = aggregate(counts, lit(0), (acc, n) => acc + when(n > lit(1), n).otherwise(lit(0)))
    val maxFreq = aggregate(counts, lit(0), (acc, n) => greatest(acc, n))
    val nTok = size(toks)
    // the three ratios ship as k/10⁴ from half-up integer arithmetic
    // (FLOAT RULE): int/int ratios under round() are the cross-engine
    // tie trap. BIGINT casts keep num·10⁴ exact for book-length docs.
    Tables.documents(s, d)
      // separate projection: tokenization runs ONCE per row (CollapseProject
      // declines to inline a non-cheap alias referenced 5×)
      .select(col("doc_id"),
        filter(split(trim(col("text")), "\\s+"), t => t =!= "").as("toks"))
      .select(
        col("doc_id"),
        nTok.as("n_tok"),
        dupMass.as("dup_mass"),
        maxFreq.as("max_freq"),
        size(dist).as("n_distinct"))
      .select(
        col("doc_id"),
        col("n_tok"),
        (expr("(CAST(dup_mass AS BIGINT) * 10000 + greatest(n_tok, 1) div 2) div greatest(n_tok, 1)")
          .cast("double") / 10000.0).as("dup_frac"),
        (expr("(CAST(max_freq AS BIGINT) * 10000 + greatest(n_tok, 1) div 2) div greatest(n_tok, 1)")
          .cast("double") / 10000.0).as("top_frac"),
        (expr("(CAST(n_distinct AS BIGINT) * 10000 + greatest(n_tok, 1) div 2) div greatest(n_tok, 1)")
          .cast("double") / 10000.0).as("distinct_ratio"),
        // verdict compares in integer space too: 2·dup_mass > n_tok
        when(expr("2 * CAST(dup_mass AS BIGINT) > n_tok"), "repetitive")
          .otherwise("ok").as("verdict"))
  }

  val repetitionSql: String = {
    val toks = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
    val counts =
      s"list_transform(list_distinct($toks), t -> len(list_filter($toks, x -> x = t)))"
    s"WITH c AS (SELECT doc_id, len($toks) AS n_tok, " +
      s"list_sum(list_transform($counts, n -> CASE WHEN n > 1 THEN n ELSE 0 END)) AS dup_mass, " +
      s"list_max($counts) AS max_freq, " +
      s"len(list_distinct($toks)) AS n_distinct FROM documents) " +
      "SELECT doc_id, CAST(n_tok AS INT) AS n_tok, " +
      "CAST((CAST(coalesce(dup_mass, 0) AS BIGINT) * 10000 + greatest(n_tok, 1) // 2) // greatest(n_tok, 1) AS DOUBLE) / 10000.0 AS dup_frac, " +
      "CAST((CAST(coalesce(max_freq, 0) AS BIGINT) * 10000 + greatest(n_tok, 1) // 2) // greatest(n_tok, 1) AS DOUBLE) / 10000.0 AS top_frac, " +
      "CAST((CAST(n_distinct AS BIGINT) * 10000 + greatest(n_tok, 1) // 2) // greatest(n_tok, 1) AS DOUBLE) / 10000.0 AS distinct_ratio, " +
      "CASE WHEN 2 * CAST(coalesce(dup_mass, 0) AS BIGINT) > n_tok THEN 'repetitive' ELSE 'ok' END AS verdict " +
      "FROM c"
  }

  // ------------------------------------------- boilerplate n-gram ratio

  val BoilerN = 5 // word n-gram size for cross-doc boilerplate detection

  private def boilerGramsCol(text: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.wordGramsDistinct(text, BoilerN)

  /** q86 — per-document BOILERPLATE fraction: the share of a doc's
    * distinct word 5-grams that also occur in at least one OTHER
    * document. This is the n-gram-grain complement of [[chunkDedup]]:
    * fixed 256-char chunks only catch repeats that share chunk
    * ALIGNMENT, while sliding word grams catch the nav bars, footers
    * and license blurbs that appear at arbitrary offsets — the signal
    * C4/RefinedWeb threshold on to drop template-heavy pages.
    *
    * Plan shape: explode to distinct (doc, gram-md5) rows, ONE hash
    * aggregate keyed on the md5 counts the documents per gram (distinct
    * per doc ⇒ a plain count(*) IS the doc count — no count-distinct
    * expansion), join back on the same key (the aggregate output is
    * already partitioned by it, so the probe side pays the only new
    * exchange), then one aggregate keyed on doc_id. Everything past the
    * explode travels as 16-byte md5s; cost is O(total grams), never
    * doc × doc, and the most-shared grams are exactly the rows the
    * first aggregate collapses hardest. */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), explode(boilerGramsCol(col("text"))).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("gh"))
    val docFreq = grams.groupBy("gh").agg(count(lit(1)).as("ndocs"))
    grams.join(docFreq, "gh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("ndocs") >= 2, 1)).as("n_shared"))
      // boiler_frac as k/10⁴ half-up integer arithmetic (FLOAT RULE)
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (expr("(n_shared * 10000 + n_grams div 2) div n_grams")
          .cast("double") / 10000.0).as("boiler_frac"))
  }

  val boilerplateSql: String = {
    val n = BoilerN
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS w FROM documents),
       |gr AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')]
       |  ELSE [array_to_string(w[i:i+${n - 1}], ' ') for i in range(1, len(w) - ${n - 2})] END)) AS gram FROM ws),
       |gh AS (SELECT doc_id, md5(gram) AS gh FROM gr),
       |df AS (SELECT gh, count(*) AS ndocs FROM gh GROUP BY gh)
       |SELECT g.doc_id, count(*) AS n_grams,
       |  count(*) FILTER (WHERE ndocs >= 2) AS n_shared,
       |  CAST((count(*) FILTER (WHERE ndocs >= 2) * 10000 + count(*) // 2) // count(*) AS DOUBLE) / 10000.0 AS boiler_frac
       |FROM gh g JOIN df USING (gh) GROUP BY g.doc_id""".stripMargin.replace("\n", " ")
  }

  // --------------------------------------------- source overlap matrix

  /** One row per word n-gram position: (doc_id, extras…, tpos, n_tok,
    * gh) with `gh = md5` of the n words starting at 0-based `tpos`
    * (rows exist only for complete grams, tpos ≤ n_tok − n).
    *
    * Positional explode + window, NOT nested array HOFs, on purpose:
    * Catalyst inlines a projected array into every downstream lambda
    * (CollapseProject), and a lambda body re-evaluates its inlined
    * children on EVERY invocation — `slice(w, i, n)` inside a
    * transform re-runs the whole tokenizing split per position, and a
    * second HOF level squares it (measured: the array-HOF winnowing
    * ran 248 s at sf0.1; this shape runs the same math in ~2 s — see
    * PERF_NOTES). Here split/tokenize run once per document, md5 once
    * per gram, and both windows ride ONE doc_id exchange. */
  private[graft] def gramHashRows(docs: DataFrame, n: Int,
                                  extras: Seq[String] = Nil): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    val cols: Seq[Column] = (col("doc_id") +: extras.map(col)) :+
      posexplode(expr("filter(split(text, '\\\\s+'), x -> x <> '')"))
        .as(Seq("tpos", "tok"))
    docs.select(cols: _*)
      .withColumn("n_tok", count(lit(1)).over(byDoc))
      .withColumn("gh", md5(concat_ws(" ",
        collect_list("tok").over(byDoc.orderBy("tpos").rowsBetween(0, n - 1)))))
      .filter(col("tpos") <= col("n_tok") - n)
      .drop("tok")
  }

  val OverlapGramN = 8

  /** q95 — cross-SOURCE contamination matrix: for every source pair,
    * how many distinct word 8-grams they share, plus the gram-set
    * Jaccard. The corpus-curation question behind it: which ingest
    * feeds are re-serving each other's content (mirrors, scrapes,
    * syndication) — q46/q58 ask "does the corpus contain the
    * benchmark", this asks the same of every source against every
    * other, and its output decides which feeds need cross-source
    * dedup (q71) before they are mixed.
    *
    * Scale: grams come from the positional [[gramHashRows]] base
    * (tokenize once per doc, md5 once per gram, one doc_id exchange —
    * NOT nested array HOFs, whose inlined-lambda re-evaluation made
    * the first cut of this query O(len²) splits per doc); ONE gh-keyed
    * aggregate turns the stream into per-gram SOURCE SETS
    * (≤ |sources| entries each — collect_set's dedup subsumes the
    * distinct), and the pair matrix comes from exploding each set's
    * i<j combinations — bounded by sources² per gram, never docs², and
    * with NO self-join: a previous cut joined the (source, gram) table
    * to itself and re-executed the whole gram lineage once per
    * consumer (4 scans — the asymmetric a<b pushdown defeats exchange
    * reuse). The per-gram sets are localCheckpoint'ed (the CC-rounds
    * pattern — measured: exchange reuse does NOT fire across the
    * consumers even with identical aggregate subtrees): one scan + one
    * materialization, and both downstream aggregates read the
    * checkpointed partitions. Output ≤ C(|sources|, 2) rows;
    * per-source totals ride the same per-gram sets and broadcast back
    * for the Jaccard. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val byGram = gramHashRows(Tables.documents(s, d), OverlapGramN, Seq("source"))
      .select(col("source"), col("gh"))
      .groupBy("gh").agg(sort_array(collect_set("source")).as("srcs"))
      .localCheckpoint(true)
    val counts = byGram.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = byGram.select(explode(expr(
      """flatten(transform(srcs,
        |  (x, i) -> transform(slice(srcs, i + 2, size(srcs)),
        |    y -> struct(x AS a, y AS b))))""".stripMargin.replace("\n", " "))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      // jaccard as k/10⁴ half-up integer arithmetic (FLOAT RULE)
      .select(col("src_a"), col("src_b"), col("shared"),
        (expr("(shared * 10000 + (na + nb - shared) div 2) div (na + nb - shared)")
          .cast("double") / 10000.0).as("jaccard"))
  }

  // ------------------------------------------------ winnowing fingerprints

  val WinnowGramN = 5  // word-gram width hashed per position
  val WinnowWindow = 4 // consecutive hashes per selection window
  val WinnowMinShared = 3 // pair report threshold

  /** q100 — WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken,
    * the MOSS algorithm): hash every word [[WinnowGramN]]-gram, slide a
    * [[WinnowWindow]]-hash window, keep each window's MINIMUM — the
    * guarantee is positional: any shared run of
    * `WinnowWindow + WinnowGramN − 1` words between two documents
    * yields at least one shared fingerprint, while storing only
    * ~2/(w+1) of the hashes. That is the difference from MinHash
    * (q17-q19), which estimates whole-document similarity and can miss
    * a short plagiarized span inside two otherwise-different documents;
    * winnowing is the containment/excerpt detector.
    *
    * Pipeline: gram hashes come from the positional [[gramHashRows]]
    * base and the window MINIMA from a second sliding window over the
    * same doc_id exchange (the first, nested-array-HOF cut of this
    * query measured 248 s at sf0.1: Catalyst inlines each projected
    * array into the next lambda and re-evaluates it per invocation —
    * tokenize × positions × positions; this shape is ~2 s). Pairs
    * sharing ≥ [[WinnowMinShared]] prints come from the q95 shape —
    * per-fingerprint doc SETS, i<j combinations exploded from each set
    * (bounded by the fingerprint's doc-frequency, which for random
    * 64-bit gram hashes means near-dup cluster sizes, never the
    * corpus). Ties inside a window go to the smallest hash VALUE (not
    * rightmost-position as in MOSS): with 64-bit md5 hashes real ties
    * are ~2^-64, and value-min keeps the selection a pure sliding min
    * both engines compute identically. */
  def winnowPairs(s: SparkSession, d: String): DataFrame =
    winnowPairsFrom(Tables.documents(s, d))

  /** [[winnowPairs]] over an explicit (doc_id, text) frame — the unit
    * ScrubSpec drives with planted shared runs. */
  def winnowPairsFrom(documents: DataFrame,
                      minShared: Long = WinnowMinShared): DataFrame = {
    val w = WinnowWindow
    val byDoc = Window.partitionBy("doc_id")
    val grams = gramHashRows(documents, WinnowGramN)
    val byPrint = grams
      .withColumn("n_gram", count(lit(1)).over(byDoc))
      .withColumn("fp",
        min("gh").over(byDoc.orderBy("tpos").rowsBetween(0, w - 1)))
      // complete windows only — except short docs (< w grams), which
      // keep their single all-gram minimum (the oracle's CASE arm)
      .filter(col("tpos") <= col("n_gram") - w ||
        (col("n_gram") < w && col("tpos") === 0))
      .groupBy("fp").agg(sort_array(collect_set("doc_id")).as("docs"))
    byPrint.select(explode(expr(
      """flatten(transform(docs,
        |  (x, i) -> transform(slice(docs, i + 2, size(docs)),
        |    y -> struct(x AS a, y AS b))))""".stripMargin.replace("\n", " "))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val winnowPairsSql: String = {
    val (n, w) = (WinnowGramN, WinnowWindow)
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM documents),
       |hs AS (SELECT doc_id, CASE WHEN len(ws) >= $n
       |  THEN [md5(array_to_string(ws[i:i+${n - 1}], ' ')) for i in range(1, len(ws) - ${n - 2})]
       |  ELSE [] END AS hs FROM ws),
       |fp AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(hs) >= $w
       |  THEN [list_min(hs[i:i+${w - 1}]) for i in range(1, len(hs) - ${w - 2})]
       |  WHEN len(hs) > 0 THEN [list_min(hs)] ELSE [] END) AS fp FROM hs),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared FROM pr WHERE n_shared >= $WinnowMinShared"""
      .stripMargin.replace("\n", " ")
  }

  // ------------------------------------- exact substring-span dedup

  val SpanGramN = 8

  /** q123 — exact substring-SPAN dedup, the grain between exact-doc
    * (q16) and fixed-chunk (q54) dedup: every MAXIMAL run of token
    * positions covered by a word [[SpanGramN]]-gram that occurs more
    * than once anywhere in the corpus (another document or elsewhere
    * in the same one). This is the operation of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"),
    * which removes repeated ≥50-token substrings at ARBITRARY
    * alignment: any repeated run of ≥ N tokens contains a repeated
    * N-gram, so the maximal merged coverage of duplicated N-grams is
    * exactly the maximal repeated-substring spans at N-token
    * resolution — found with hash joins instead of the paper's
    * monolithic suffix array, which has no bounded-memory distributed
    * form. Output: (doc_id, span_start, span_end, span_len), token
    * positions 0-based inclusive.
    *
    * Plan shape: positional grams from [[gramHashRows]] (tokenize
    * once per doc, md5 once per gram — NOT nested array HOFs, see the
    * q95 scaladoc), then ONE count-over-gh window marks grams with
    * ≥ 2 occurrences, and span merging is gaps-and-islands on START
    * positions alone — two grams' coverages touch iff their starts
    * differ by ≤ N, so `span_end = max(start) + N − 1` without ever
    * exploding the N-fold per-position coverage (and without its
    * distinct's extra exchange). The occurrence window was MEASURED
    * against the dup-aggregate + join-back alternative (PERF_NOTES.md
    * "q123 substring spans": span_window / span_checkpoint /
    * span_rescan, sf0.1: 1.09 vs 1.42 vs 1.98 s): agg+join consumes the gram frame twice — Catalyst
    * re-runs the tokenize+md5 lineage per consumer (2 parquet scans),
    * and checkpointing the frame still pays materialization + TWO
    * gh exchanges (aggregate + probe); the window pays ONE gh
    * exchange of the gram stream and nothing else. Both island
    * windows ride ONE doc_id exchange; post-filter volume is
    * duplicated starts only, ∝ how much duplication exists, never
    * corpus × positions. */
  def substringSpans(s: SparkSession, d: String): DataFrame =
    substringSpansFrom(Tables.documents(s, d))

  /** [[substringSpans]] over an explicit (doc_id, text) frame — the
    * unit SubstringSpansSpec drives with planted repeats. */
  def substringSpansFrom(documents: DataFrame): DataFrame = {
    val n = SpanGramN
    val grams = gramHashRows(documents, n).select("doc_id", "tpos", "gh")
    val byGh = Window.partitionBy("gh")
    spanIslands(
      grams.withColumn("occ", count(lit(1)).over(byGh))
        .filter(col("occ") > 1).select("doc_id", "tpos"))
  }

  /** Gaps-and-islands tail shared by the q123 variants: duplicated
    * START positions → maximal merged spans (starts whose difference
    * is ≤ N have touching N-token coverages). */
  private[graft] def spanIslands(starts: DataFrame): DataFrame = {
    val n = SpanGramN
    val byDoc = Window.partitionBy("doc_id").orderBy("tpos")
    starts
      .withColumn("brk",
        when(col("tpos") - lag("tpos", 1).over(byDoc) > n, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(
        min("tpos").cast("long").as("span_start"),
        (max("tpos") + (n - 1)).cast("long").as("span_end"),
        (max("tpos") - min("tpos") + n).cast("long").as("span_len"))
      .select("doc_id", "span_start", "span_end", "span_len")
  }

  /** q128 — INCREMENTAL span decontamination, q123's nightly-crawl
    * twin (the span-grain member of the q71/q75 incremental family):
    * which token runs of the NEW batch (the q71 `doc_id % 5 == 4`
    * convention) already exist in the CORPUS (all other docs). The
    * answer is what a crawl-ingest pipeline cuts before admission —
    * content the corpus already has, at arbitrary alignment, without
    * the batch having to match any whole doc or chunk.
    *
    * Same one-scan/one-gh-exchange shape as q123 (measured there —
    * PERF_NOTES.md "q123 substring spans"): the occurrence window just counts CORPUS
    * occurrences only (`sum(corp)`), and the island stage keeps
    * batch-side starts with ≥ 1. A batch gram repeated only WITHIN
    * the batch does not mark (admission dedup of the batch against
    * itself is q123 on the batch alone). */
  def incrementalSpans(s: SparkSession, d: String): DataFrame =
    incrementalSpansFrom(Tables.documents(s, d))

  /** [[incrementalSpans]] over an explicit (doc_id, text) frame. */
  def incrementalSpansFrom(documents: DataFrame): DataFrame = {
    import graft.dedup.DedupQueries.{IncBatchMod, IncBatchRem}
    val grams = gramHashRows(documents, SpanGramN)
      .select(col("doc_id"), col("tpos"), col("gh"),
        when(col("doc_id") % IncBatchMod === IncBatchRem, 0)
          .otherwise(1).as("corp"))
    val byGh = Window.partitionBy("gh")
    spanIslands(
      grams.withColumn("n_corp", sum("corp").over(byGh))
        .filter(col("corp") === 0 && col("n_corp") >= 1)
        .select("doc_id", "tpos"))
  }

  /** Durable DISTINCT-gram index of the q128 corpus side — the
    * span-decontamination member of the persisted-index family
    * (q75 dedup corpus / q78 IVF): one bucketed+sorted parquet table
    * of the corpus's distinct 8-gram md5s, snapshot-tagged and
    * build-once-locked via [[graft.ops.DurableIndex]]. Membership is
    * all the probe needs (q128's `n_corp >= 1`), so the index stores
    * ONE 32-byte string per distinct corpus gram — no doc ids, no
    * positions — and a nightly crawl pays gram-extraction + a
    * semi-join ∝ the BATCH, never re-touching the corpus. */
  def spanGramIndex(s: SparkSession, d: String): String =
    DurableIndex.open(s, d, SpanGrams).table("span_corpus_grams")

  val SpanGrams: DurableIndex.Spec = DurableIndex.Spec("spangrams", "documents.parquet",
    Seq(DurableIndex.Table("span_corpus_grams", "grams", "gh STRING",
      Some("gh" -> graft.dedup.DedupQueries.IndexBuckets))),
    Some("span_grams")) { (s, d, ix) =>
    import graft.dedup.DedupQueries.{IncBatchMod, IncBatchRem}
    val corpus = Tables.documents(s, d)
      .filter(col("doc_id") % IncBatchMod =!= IncBatchRem)
    ix.write("span_corpus_grams", gramHashRows(corpus, SpanGramN).select("gh").distinct())
  }

  /** q130 — q128 against the PERSISTED gram index: the batch's grams
    * left-semi-join the bucketed table (index side read
    * pre-partitioned, probe side pays the only exchange — the q75
    * posture), then the unchanged island merge. Membership ≡
    * `n_corp >= 1`, so output is row-identical to q128 for the same
    * batch → same oracle, and the streaming twin
    * ([[graft.streaming.StreamingFraud.spanDecontamStream]]) runs
    * THIS per micro-batch. */
  def incrementalSpansIndexed(s: SparkSession, d: String,
                              batch: DataFrame): DataFrame = {
    val tbl = spanGramIndex(s, d)
    spanIslands(
      gramHashRows(batch.select("doc_id", "text"), SpanGramN)
        .join(s.table(tbl), Seq("gh"), "left_semi")
        .select("doc_id", "tpos"))
  }

  /** q130's registered form: the q71-convention batch slice probed
    * against the index. */
  def incrementalSpansIndexedQuery(s: SparkSession, d: String): DataFrame = {
    import graft.dedup.DedupQueries.{IncBatchMod, IncBatchRem}
    incrementalSpansIndexed(s, d, Tables.documents(s, d)
      .filter(col("doc_id") % IncBatchMod === IncBatchRem))
  }

  // lazy + `final` constants on the DedupQueries side: this val reads
  // another object's members, and during the r10 init cycle a strict
  // val here baked `% 0` into the oracle (see DedupQueries.IncBatchMod)
  lazy val incrementalSpansSql: String = {
    val n = SpanGramN
    val (m, r) = (graft.dedup.DedupQueries.IncBatchMod,
      graft.dedup.DedupQueries.IncBatchRem)
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
       |g AS (SELECT doc_id, i - 1 AS tpos, md5(array_to_string(w[i:i+${n - 1}], ' ')) AS gh,
       |  CASE WHEN doc_id % $m = $r THEN 0 ELSE 1 END AS corp
       |  FROM ws, unnest(generate_series(1, len(w) - ${n - 1})) AS s(i)),
       |cw AS (SELECT doc_id, tpos, corp, sum(corp) OVER (PARTITION BY gh) AS n_corp FROM g),
       |st AS (SELECT doc_id, tpos FROM cw WHERE corp = 0 AND n_corp >= 1),
       |lg AS (SELECT doc_id, tpos, CASE WHEN tpos - lag(tpos) OVER (PARTITION BY doc_id ORDER BY tpos) > $n
       |  THEN 1 ELSE 0 END AS brk FROM st),
       |il AS (SELECT doc_id, tpos, sum(brk) OVER (PARTITION BY doc_id ORDER BY tpos
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM lg)
       |SELECT doc_id, CAST(min(tpos) AS BIGINT) AS span_start,
       |  CAST(max(tpos) + ${n - 1} AS BIGINT) AS span_end,
       |  CAST(max(tpos) - min(tpos) + $n AS BIGINT) AS span_len
       |FROM il GROUP BY doc_id, grp""".stripMargin.replace("\n", " ")
  }

  val substringSpansSql: String = {
    val n = SpanGramN
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
       |g AS (SELECT doc_id, i - 1 AS tpos, md5(array_to_string(w[i:i+${n - 1}], ' ')) AS gh
       |  FROM ws, unnest(generate_series(1, len(w) - ${n - 1})) AS s(i)),
       |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
       |st AS (SELECT g.doc_id, g.tpos FROM g JOIN dup USING (gh)),
       |lg AS (SELECT doc_id, tpos, CASE WHEN tpos - lag(tpos) OVER (PARTITION BY doc_id ORDER BY tpos) > $n
       |  THEN 1 ELSE 0 END AS brk FROM st),
       |il AS (SELECT doc_id, tpos, sum(brk) OVER (PARTITION BY doc_id ORDER BY tpos
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM lg)
       |SELECT doc_id, CAST(min(tpos) AS BIGINT) AS span_start,
       |  CAST(max(tpos) + ${n - 1} AS BIGINT) AS span_end,
       |  CAST(max(tpos) - min(tpos) + $n AS BIGINT) AS span_len
       |FROM il GROUP BY doc_id, grp""".stripMargin.replace("\n", " ")
  }

  val sourceOverlapSql: String = {
    val n = OverlapGramN
    s"""WITH ws AS (SELECT source, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
       |gr AS (SELECT DISTINCT source, md5(gram) AS gh FROM
       |  (SELECT source, unnest(CASE WHEN len(w) >= $n
       |     THEN [array_to_string(w[i:i+${n - 1}], ' ') for i in range(1, len(w) - ${n - 2})]
       |     ELSE [] END) AS gram FROM ws)),
       |cnt AS (SELECT source, count(*) AS n FROM gr GROUP BY source),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
       |  FROM gr a JOIN gr b USING (gh) WHERE a.source < b.source GROUP BY 1, 2)
       |SELECT src_a, src_b, shared,
       |  CAST((shared * 10000 + (ca.n + cb.n - shared) // 2) // (ca.n + cb.n - shared) AS DOUBLE) / 10000.0 AS jaccard
       |FROM pr JOIN cnt ca ON pr.src_a = ca.source
       |JOIN cnt cb ON pr.src_b = cb.source""".stripMargin.replace("\n", " ")
  }

  // -------------------------------------------------- gram novelty score

  val NoveltyGramN = 3

  /** q177: per-document novelty — how many of a document's distinct
    * word 3-grams are FIRST introduced by that document (owner = min
    * doc_id over the gram's occurrences). The data-curation
    * "contribution" metric: a doc whose grams all appeared earlier adds
    * nothing to corpus diversity; dedup-survivors with high novelty are
    * the valuable tail. Cheaper than any pairwise measure — novelty is
    * a property of the gram table alone.
    *
    * Plan shape: ONE gram-grain exchange (window `min(doc_id) OVER
    * (PARTITION BY gh)`) then ONE doc-grain hash aggregate — linear in
    * total gram mass, never doc × doc. The window partitions by the
    * gram md5, so skew is hash-bounded (the heaviest gram's partition
    * is one string's occurrence list, not a join fan-out). Grams travel
    * as md5 strings (16 B) off the native codegen'd
    * `word_grams_distinct` scan — no UDF, no raw-gram shuffle width.
    * At 100 TB: both exchanges are map-side-combinable aggregations
    * over ~N·L keys; owner-assignment by min doc_id is deterministic
    * under any partitioning. */
  def gramNovelty(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .wordGramsDistinct(col("text"), NoveltyGramN)).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("gh"))
    val owner = Window.partitionBy("gh")
    grams
      .withColumn("novel",
        when(col("doc_id") === min("doc_id").over(owner), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("novel").as("n_novel"))
  }

  val gramNoveltySql: String = {
    val n = NoveltyGramN
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS w FROM documents),
       |gr AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')]
       |  ELSE [array_to_string(w[i:i+${n - 1}], ' ') for i in range(1, len(w) - ${n - 2})] END)) AS gram FROM ws),
       |gh AS (SELECT doc_id, md5(gram) AS gh FROM gr),
       |own AS (SELECT gh, min(doc_id) AS owner FROM gh GROUP BY gh)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |FROM gh g JOIN own o USING (gh) GROUP BY g.doc_id""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------- multi-pattern blocklist screen

  /** The q185 blocklist. All patterns are BORDER-FREE (spec-asserted via
    * [[AhoCorasick.hasBorder]]) so overlapping == non-overlapping counts
    * and the replace-based oracle is exact. "scan" ⊂ "slow scan" and
    * "agg" ⊂ "agg row" deliberately exercise the automaton's
    * dictionary-suffix output links. */
  val Blocklist: Seq[String] = Seq(
    "table", "spark", "merge", "batch", "vector", "stream", "filter",
    "query", "scan", "slow scan", "agg", "agg row", "fast table",
    "customer", "column", "the line")

  /** q185 — BLOCKLIST SCREEN: count, per (source, pattern), how many
    * documents mention each blocklist term and how often — the
    * report a toxicity/compliance wordlist pass emits before any doc is
    * dropped (the drop itself is then a semi-join on the hits). The
    * screen is the Dolma/CCNet-style "taggers first, filters second"
    * discipline: measure before deleting.
    *
    * Scale design: a K-pattern screen must NOT be K regex scans — at
    * 100 TB that is K full-corpus CPU passes. One [[AhoCorasick]]
    * automaton (built driver-side from the tiny list, broadcast) makes
    * it O(len + matches) per document, ONE pass total, with per-
    * partition partial aggregation inside the same mapPartitions (the
    * emitted partials are ≤ |sources|·K rows per partition) so the only
    * exchange carries the |sources|×K-bounded grid, never doc-grain
    * rows. The final left join against the full source×pattern grid
    * pins the contract that silent zeros are reported as 0, not
    * omitted. */
  def blocklistScreen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pats = Blocklist
    val partials = blocklistCounts(Tables.documents(s, d))
    val grid = Tables.documents(s, d).select(col("source")).distinct()
      .crossJoin(broadcast(
        pats.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pidx", "pattern")))
    grid.join(partials, Seq("source", "pidx"), "left")
      .select(col("source"), col("pattern"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"))
  }

  /** The doc-grain half of q185, shared with the streaming twin
    * ([[graft.streaming.StreamingFraud.blocklistScreenStream]]): one
    * automaton pass per doc inside mapPartitions with in-partition
    * partial aggregation, then the grid-bounded sum merge. Counts are
    * ADDITIVE, which is what makes the same pipeline a correct
    * stateful streaming aggregation — micro-batch partials sum into
    * the running cell exactly as partition partials sum in batch.
    * Input schema: (source, text). Output: (source, pidx, n_docs,
    * n_occ) for TOUCHED cells only (the batch entry joins the full
    * grid back; a stream reports zeros as absence). */
  private[graft] def blocklistCounts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(AhoCorasick.build(Blocklist))
    docs
      .select(col("source"), col("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val agg = scala.collection.mutable.HashMap[(String, Int), (Long, Long)]()
        it.foreach { case (src, text) =>
          val counts = bc.value.countAll(text)
          var i = 0
          while (i < counts.length) {
            if (counts(i) > 0) {
              val k = (src, i)
              val (d0, o0) = agg.getOrElse(k, (0L, 0L))
              agg(k) = (d0 + 1L, o0 + counts(i))
            }
            i += 1
          }
        }
        agg.iterator.map { case ((src, p), (nd, no)) => (src, p, nd, no) }
      }
      .toDF("source", "pidx", "n_docs", "n_occ")
      .groupBy("source", "pidx")
      .agg(sum("n_docs").as("n_docs"), sum("n_occ").as("n_occ"))
  }

  val blocklistScreenSql: String = {
    val values = Blocklist.map(p => s"('$p')").mkString(", ")
    s"""WITH p(pattern) AS (VALUES $values),
       |c AS (SELECT d.source, p.pattern,
       |  (len(d.text) - len(replace(d.text, p.pattern, ''))) // len(p.pattern) AS occ
       |  FROM documents d CROSS JOIN p)
       |SELECT source, pattern,
       |  CAST(count(*) FILTER (WHERE occ > 0) AS BIGINT) AS n_docs,
       |  CAST(sum(occ) AS BIGINT) AS n_occ
       |FROM c GROUP BY source, pattern""".stripMargin.replace("\n", " ")
  }
}
