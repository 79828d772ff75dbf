package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Hashing

/** Native codegen expressions for the doc-grain signature pipelines of
  * the dedup family (VERDICT r12 next-round #2): text → LSH band
  * values, text → SimHash pigeonhole blocks, text → distinct shingle
  * base-hashes. These replace the Scala UDFs that sat on FULL-CORPUS
  * scans (`bandValsUdf`, `charBandValsUdf`, `simBlocksUdf`,
  * `shingleHashesUdf`) — same arithmetic (all of it lives in
  * [[graft.dedup.Hashing]], unchanged, so the DuckDB oracles and specs
  * are untouched), minus the ScalaUDF wrapper's costs: no
  * encoder/decoder roundtrip per row, no codegen fence splitting the
  * whole-stage span (the r10 `Md5LowerLong` conversion measured the
  * win for exactly this class — PERF_NOTES r10 variant table; the r13
  * numbers for these three are in PERF_NOTES.md "Round-13
  * signature-pipeline A/B").
  *
  * The permutation constants are derived per (count, seed) exactly as
  * [[Hashing.permConstants]] and cached per JVM — `permConstants(64,
  * seed).take(k)` ≡ `permConstants(k, seed)` (the family is indexed
  * per slot), which is what lets the char-grain caller reuse the word
  * family's seed with fewer rows, as the UDFs did. */
object ShingleBands {

  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[(Long, Long)]]()

  private def permsFor(n: Int, seed: Long): Array[(Long, Long)] =
    permCache.computeIfAbsent((n, seed),
      _ => Hashing.permConstants(n, seed))

  /** text → band-value strings ("v0:v1:…" of consecutive signature
    * slots). Called from generated code — keep the signature stable. */
  def bandVals(text: UTF8String, shingleN: Int, bands: Int, rows: Int,
               seed: Long, charGrain: Boolean): ArrayData = {
    val t = text.toString
    val shingles =
      if (charGrain) Hashing.charShingles(t, shingleN)
      else Hashing.wordShingles(t, shingleN)
    val base = shingles.map(Hashing.shingleBaseHash)
    val sig = Hashing.minHashSignature(base, permsFor(bands * rows, seed))
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(':')
        sb.append(sig(b * rows + r))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** shingle base-hashes → band-value strings: the signature half of
    * [[bandVals]] for callers that already hold the hash array (lets
    * q138 share ONE tokenize/shingle projection between its sparse
    * intersection join and its banding side — VERDICT r12 wrong-2). */
  def bandValsFromHashes(hashes: ArrayData, bands: Int, rows: Int,
                         seed: Long): ArrayData = {
    val base = hashes.toLongArray()
    val sig = Hashing.minHashSignature(base, permsFor(bands * rows, seed))
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(':')
        sb.append(sig(b * rows + r))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** text → the 4 × 16-bit SimHash pigeonhole blocks. */
  def simBlocks(text: UTF8String): ArrayData = {
    val blocks = Hashing.simHashBlocks(
      Hashing.simHash64(Hashing.tokens(text.toString)))
    new GenericArrayData(Array[Any](blocks(0), blocks(1), blocks(2), blocks(3)))
  }

  /** text → distinct word-shingle base hashes (first-occurrence
    * order, as Array.distinct keeps it). */
  def shingleHashes(text: UTF8String, shingleN: Int): ArrayData = {
    val hs = Hashing.wordShingles(text.toString, shingleN)
      .map(Hashing.shingleBaseHash).distinct
    new GenericArrayData(hs.map(x => x: Any))
  }

  /** text → distinct word n-gram STRINGS (the q46/q58/q86 gram grain —
    * raw grams; consumers md5 them downstream where keys must be
    * fixed-width). */
  def wordGramsDistinct(text: UTF8String, n: Int): ArrayData = {
    val gs = Hashing.wordShingles(text.toString, n).distinct
    new GenericArrayData(gs.map(g => UTF8String.fromString(g): Any))
  }
}

private[functions] trait TextArrayExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }
}

/** text → LSH band values over the MinHash signature of word- or
  * char-grain shingles, one native call per row. */
case class MinHashBandVals(child: Expression, shingleN: Int, bands: Int,
                           rows: Int, seed: Long, charGrain: Boolean)
    extends TextArrayExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_band_vals"

  override def nullSafeEval(input: Any): Any =
    ShingleBands.bandVals(input.asInstanceOf[UTF8String],
      shingleN, bands, rows, seed, charGrain)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleBands.bandVals($c, $shingleN, $bands, $rows, ${seed}L, $charGrain)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBandVals =
    copy(child = newChild)
}

/** text → 4 SimHash pigeonhole blocks (md5-token-hash SimHash,
  * 16-bit blocks — Hamming ≤ 3 ⇒ ≥ 1 identical block). */
case class SimHashBlocksExpr(child: Expression) extends TextArrayExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "simhash_blocks"

  override def nullSafeEval(input: Any): Any =
    ShingleBands.simBlocks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleBands.simBlocks($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBlocksExpr =
    copy(child = newChild)
}

/** shingle base-hash array → LSH band values (the signature stage
  * alone, for pipelines that share one shingle projection). */
case class BandValsFromHashes(child: Expression, bands: Int, rows: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "band_vals_from_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleBands.bandValsFromHashes(input.asInstanceOf[ArrayData], bands, rows, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleBands.bandValsFromHashes($c, $bands, $rows, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): BandValsFromHashes =
    copy(child = newChild)
}

/** text → distinct word-shingle base hashes (61-bit md5-derived). */
case class ShingleHashesExpr(child: Expression, shingleN: Int)
    extends TextArrayExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleBands.shingleHashes(input.asInstanceOf[UTF8String], shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleBands.shingleHashes($c, $shingleN)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** text → distinct word n-gram strings, one native call per row (the
  * decontamination/boilerplate gram scans' twin of
  * [[ShingleHashesExpr]] — string grams instead of base hashes). */
case class WordGramsDistinctExpr(child: Expression, n: Int)
    extends TextArrayExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams_distinct"

  override def nullSafeEval(input: Any): Any =
    ShingleBands.wordGramsDistinct(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleBands.wordGramsDistinct($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordGramsDistinctExpr =
    copy(child = newChild)
}
