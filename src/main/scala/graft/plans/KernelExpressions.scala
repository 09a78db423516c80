package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen expressions over the [[Kernels]] statics — the §2.8
  * "native Expression with doGenCode" tier applied to the vector/text hot
  * paths that round 2 showed running interpreted (`zip_with`/`aggregate`
  * higher-order functions don't participate in whole-stage codegen).
  *
  * Each expression stays inside the WholeStageCodegen span: the generated
  * Java calls the kernel's static forwarder directly, so a projection over
  * these is one fused loop per row batch.
  */
private[plans] trait KernelCodegenHelpers { self: Expression =>
  protected final val KernelsCls: String = Kernels.getClass.getName.stripSuffix("$")

  protected final def vecTypeOk(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  protected final def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** Unrounded cosine similarity of two numeric-array columns (float or
  * double elements); same IEEE operation order as the `aggregate`/`zip_with`
  * formulation it replaces. See [[graft.similarity.Similarity.cosine]].
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression with KernelCodegenHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(left.dataType) && vecTypeOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires (array<float|double>, array<float|double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArr(left), isFloatArr(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""
         |java.lang.Double $tmp = $KernelsCls.cosine($a, $b, ${isFloatArr(left)}, ${isFloatArr(right)});
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two numeric-array columns, fold-left association. */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with KernelCodegenHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(left.dataType) && vecTypeOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires (array<float|double>, array<float|double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArr(left), isFloatArr(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dot")
      s"""
         |java.lang.Double $tmp = $KernelsCls.dot($a, $b, ${isFloatArr(left)}, ${isFloatArr(right)});
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Top-`n` nearest centroid ids for a vector column against a broadcast
  * (plan-constant) centroid set, ordered (round-6 cosine desc, id asc) —
  * replaces round 2's corpus × centroids cross-join + `row_number` window,
  * which shuffled |corpus|·|centroids| rows. One projection, no exchange.
  * `ids` must be sorted ascending, parallel to `cents`.
  */
case class NearestCentroids(child: Expression, ids: Seq[Long],
    cents: Seq[Seq[Double]], n: Int)
  extends UnaryExpression with KernelCodegenHelpers {

  require(n > 0, "nprobe must be positive")

  // Seq constructor fields keep the case-class equals/semanticEquals
  // structural (Array params compare by reference, which silently disables
  // subexpression elimination, exchange reuse, and canonicalized plan
  // comparison); eval/codegen use these materialized primitive arrays.
  @transient private lazy val idsArr: Array[Long] = ids.toArray
  @transient private lazy val centsArr: Array[Array[Double]] = cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids requires array<float|double>, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override protected def nullSafeEval(v: Any): Any =
    Kernels.nearestCentroids(v.asInstanceOf[ArrayData], idsArr, centsArr, n, isFloatArr(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", idsArr, "long[]")
    val centsRef = ctx.addReferenceObj("centVecs", centsArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $KernelsCls.nearestCentroids($v, $idsRef, $centsRef, $n, ${isFloatArr(child)});")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Distinct word n-gram set of a text column — one fused
  * tokenize→shingle→distinct pass. `n` is a plan constant (embedded in the
  * generated code, not a child expression): shingle width is a pipeline
  * design choice, never data-dependent. See
  * [[graft.text.TextAnalysis.shingles]].
  */
case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2 && n <= 13, s"shingle width must be in [2,13], got $n")
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_set requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.shingleSet(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.shingleSet($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** Winnowing fingerprint set of a text column — positional k-gram rolling
  * hashes, window-min selection, distinct sorted output. Both widths are
  * plan constants (fingerprint scheme parameters are a pipeline design
  * choice, never data-dependent). See [[Kernels.winnow]].
  */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 1 && k <= 13, s"k-gram width must be in [1,13], got $k")
  require(w >= 1 && w <= 256, s"winnow window must be in [1,256], got $w")
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.winnow(t.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.winnow($t, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** Content-defined chunks of a text column as packed `(len, hash)` longs —
  * rolling-hash boundary selection, O(n·window) with a constant window.
  * Both dials are plan constants (a chunking scheme is a pipeline design
  * choice, never data-dependent). See [[Kernels.cdcChunks]].
  */
case class CdcChunks(child: Expression, window: Int, maskBits: Int)
    extends UnaryExpression {
  require(window >= 2 && window <= 64,
    s"cdc window must be in [2,64], got $window")
  require(maskBits >= 1 && maskBits <= 20,
    s"cdc maskBits must be in [1,20], got $maskBits")
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.cdcChunks(t.asInstanceOf[UTF8String], window, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = $KernelsCls.cdcChunks($t, $window, $maskBits);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** The 4 MinHash slice minima (8 hex chars each) over a distinct-gram
  * array: one md5 per gram for all 4 signatures. Null for an empty gram set.
  */
case class MinhashSlices(child: Expression) extends UnaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_slices requires array<string>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_slices"

  override protected def nullSafeEval(g: Any): Any =
    Kernels.minhashSlices(g.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"""
         |${ev.value} = $KernelsCls.minhashSlices($g);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSlices =
    copy(child = newChild)
}

/** Wide seeded MinHash: `4 × groups` slice minima (group 0 = the plain
  * [[MinhashSlices]] stream, group g ≥ 1 hashes `"g:" || gram`). `groups`
  * is a plan constant — signature width is a pipeline design choice.
  * See [[Kernels.minhashSlicesSeeded]].
  */
case class MinhashSlicesSeeded(child: Expression, groups: Int)
  extends UnaryExpression {
  require(groups >= 1 && groups <= 64,
    s"minhash groups must be in [1,64], got $groups")
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_slices_seeded requires array<string>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_slices_seeded"

  override protected def nullSafeEval(g: Any): Any =
    Kernels.minhashSlicesSeeded(g.asInstanceOf[ArrayData], groups)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"""
         |${ev.value} = $KernelsCls.minhashSlicesSeeded($g, $groups);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSlicesSeeded =
    copy(child = newChild)
}

/** 16-bit SimHash of a text column — fused tokenize+md5+vote pass. */
case class Simhash16(child: Expression) extends UnaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash16 requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.simhash16(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.simhash16($t);")

  override protected def withNewChildInternal(newChild: Expression): Simhash16 =
    copy(child = newChild)
}

/** Token count of a text column — fused lower/trim/split/size. */
case class TokenCount(child: Expression) extends UnaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_count requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.tokenCount(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.tokenCount($t);")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** Count of tokens matching a constant word list (stopwords / language
  * markers) — `size(filter(tokens, isInCollection(words)))` in one pass.
  */
case class TokenHits(child: Expression, words: Seq[String]) extends UnaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  private lazy val wordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_hits requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_hits"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.tokenHits(t.asInstanceOf[UTF8String], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("tokenHitWords", wordSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.tokenHits($t, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHits =
    copy(child = newChild)
}

/** Subword-proxy count — Σ max(⌈len/4⌉, 1) over tokens, one fused pass. */
case class SubwordSum(child: Expression) extends UnaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"subword_sum requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "subword_sum"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.subwordSum(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.subwordSum($t);")

  override protected def withNewChildInternal(newChild: Expression): SubwordSum =
    copy(child = newChild)
}

/** Total token length in codepoints — numerator of the mean token length. */
case class CharSum(child: Expression) extends UnaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_sum requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "char_sum"

  override protected def nullSafeEval(t: Any): Any =
    Kernels.charSum(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $KernelsCls.charSum($t);")

  override protected def withNewChildInternal(newChild: Expression): CharSum =
    copy(child = newChild)
}

/** |A ∩ B| of two distinct string arrays — the counting core of
  * `size(array_intersect(a, b))` without materializing the intersection.
  */
case class IntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"intersect_count requires (array<string>, array<string>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $KernelsCls.intersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Int8 quantization summary `[scale, qsum, qnorm2, max_abs_err]` of a
  * numeric-array column — see [[Kernels.int8QuantStats]]. One fused pass;
  * every element of the result is accumulation-order deterministic.
  */
case class Int8QuantStats(child: Expression)
  extends UnaryExpression with KernelCodegenHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int8_quant_stats requires array<float|double>, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "int8_quant_stats"

  override protected def nullSafeEval(v: Any): Any =
    Kernels.int8QuantStats(v.asInstanceOf[ArrayData], isFloatArr(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("qs")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  $KernelsCls.int8QuantStats($v, ${isFloatArr(child)});
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}

/** Quantized int8 codes of a numeric-array column — see
  * [[Kernels.int8Codes]]. The storage face of [[Int8QuantStats]]: 4× smaller
  * than float32 on the wire and at rest.
  */
case class Int8Codes(child: Expression)
  extends UnaryExpression with KernelCodegenHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int8_codes requires array<float|double>, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "int8_codes"

  override protected def nullSafeEval(v: Any): Any =
    Kernels.int8Codes(v.asInstanceOf[ArrayData], isFloatArr(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("qc")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  $KernelsCls.int8Codes($v, ${isFloatArr(child)});
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Codes =
    copy(child = newChild)
}

/** Product-quantization codes of a numeric-array column against a
  * plan-constant codebook (`Seq` fields for structural equality, same
  * rationale as [[NearestCentroids]]): `m` code ids per vector, one per
  * contiguous subspace. See [[Kernels.pqEncode]].
  */
case class PqEncode(child: Expression, ids: Seq[Long],
    cents: Seq[Seq[Double]], m: Int)
  extends UnaryExpression with KernelCodegenHelpers {

  require(m >= 1, "m must be positive")

  @transient private lazy val idsArr: Array[Long] = ids.toArray
  @transient private lazy val centsArr: Array[Array[Double]] = cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float|double>, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(v: Any): Any =
    Kernels.pqEncode(v.asInstanceOf[ArrayData], idsArr, centsArr, m, isFloatArr(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("pqIds", idsArr, "long[]")
    val centsRef = ctx.addReferenceObj("pqCents", centsArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $KernelsCls.pqEncode($v, $idsRef, $centsRef, $m, ${isFloatArr(child)});")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) scan: approximate query↔row squared L2 from
  * a row's PQ codes and a plan-constant per-query distance table. See
  * [[Kernels.pqAdc]].
  */
case class PqAdc(child: Expression, ids: Seq[Long], table: Seq[Seq[Double]])
  extends UnaryExpression {

  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  @transient private lazy val idsArr: Array[Long] = ids.toArray
  @transient private lazy val tableArr: Array[Array[Double]] = table.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires array<bigint> codes, got ${dt.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(codes: Any): Any =
    Kernels.pqAdc(codes.asInstanceOf[ArrayData], idsArr, tableArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("adcIds", idsArr, "long[]")
    val tableRef = ctx.addReferenceObj("adcTable", tableArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("adc")
      s"""
         |java.lang.Double $tmp = $KernelsCls.pqAdc($v, $idsRef, $tableRef);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

/** Per-query ADC distance table as a column value — the query-side
  * projection of BATCH ADC search (one `m × |codebook|` table per query
  * row, broadcast with its probe list into the codes scan). Same fold
  * order as the plan-constant table in [[PqAdc]]'s driver-side builder.
  * See [[Kernels.adcTable]].
  */
case class AdcTable(child: Expression, ids: Seq[Long],
    cents: Seq[Seq[Double]], m: Int)
  extends UnaryExpression with KernelCodegenHelpers {

  require(m >= 1, "m must be positive")

  @transient private lazy val idsArr: Array[Long] = ids.toArray
  @transient private lazy val centsArr: Array[Array[Double]] = cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adc_table requires array<float|double>, got ${child.dataType.simpleString}")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "adc_table"

  override protected def nullSafeEval(v: Any): Any =
    Kernels.adcTable(v.asInstanceOf[ArrayData], idsArr, centsArr, m, isFloatArr(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("adcIds", idsArr, "long[]")
    val centsRef = ctx.addReferenceObj("adcCents", centsArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $KernelsCls.adcTable($v, $idsRef, $centsRef, $m, ${isFloatArr(child)});")
  }

  override protected def withNewChildInternal(newChild: Expression): AdcTable =
    copy(child = newChild)
}

/** ADC scan with the distance table arriving as a COLUMN (the batch face
  * of [[PqAdc]]: per-query tables joined into the codes frame). See
  * [[Kernels.pqAdcDyn]].
  */
case class PqAdcDyn(left: Expression, right: Expression, ids: Seq[Long])
  extends BinaryExpression with KernelCodegenHelpers {

  @transient private lazy val idsArr: Array[Long] = ids.toArray

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_dyn requires (array<bigint>, array<array<double>>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_dyn"

  override protected def nullSafeEval(codes: Any, table: Any): Any =
    Kernels.pqAdcDyn(codes.asInstanceOf[ArrayData], idsArr,
      table.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("adcIds", idsArr, "long[]")
    nullSafeCodeGen(ctx, ev, (codes, table) => {
      val tmp = ctx.freshName("adc")
      s"""
         |java.lang.Double $tmp = $KernelsCls.pqAdcDyn($codes, $idsRef, $table);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDyn =
    copy(left = newLeft, right = newRight)
}

/** Point-frequency estimate of a string key from a SERIALIZED Count-Min
  * sketch carried as a plan constant — the read face of Spark's
  * `count_min_sketch` aggregate (whose partials merge associatively, which
  * is the whole 100 TB story: one narrow pass, sketch-sized shuffle).
  * The sketch rides in the constructor as a `Seq[Byte]` (structural
  * equality, same rationale as [[NearestCentroids]]) and deserializes
  * lazily ONCE per executor; the item is probed through the same
  * UTF8String-bytes path the aggregate used to add it.
  */
case class CmsEstimate(child: Expression, sketch: Seq[Byte])
  extends UnaryExpression {

  @transient private lazy val cms =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketch.toArray))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_estimate requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def nullSafeEval(v: Any): Any =
    cms.estimateCount(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cms", cms,
      classOf[org.apache.spark.util.sketch.CountMinSketch].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.estimateCount($v.getBytes());")
  }

  override protected def withNewChildInternal(newChild: Expression): CmsEstimate =
    copy(child = newChild)
}

/** Jaro–Winkler similarity of two string columns — a native kernel
  * because Spark ships `levenshtein` but no Jaro family, and the
  * entity-resolution tier needs the transposition-tolerant metric for
  * name/key matching (typo'd ids swap adjacent characters more often
  * than they insert). Byte-based, DuckDB-compatible semantics — see
  * [[Kernels.jaroWinkler]] for the pinned contract.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
  extends BinaryExpression {
  private val KernelsCls = Kernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires (string, string), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $KernelsCls.jaroWinkler($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaroWinklerSim =
    copy(left = newLeft, right = newRight)
}

/** `lo <= child <= hi` over a double child, with the child evaluated
  * once. `between(lo, hi)` expands to `child >= lo AND child <= hi`; when
  * Catalyst pushes that filter below the projection that computes the
  * column, it substitutes the column's whole defining expression into
  * both comparisons, and the filter's codegen gets no subexpression
  * elimination. Here the defining expression appears once.
  *
  * Same result as `between` on a double: comparisons go through
  * `SQLOrderingUtil.compareDoubles`, as Spark's generated `>=`/`<=` do
  * (NaN equals NaN and sorts above +∞; -0.0 equals 0.0), and a null child
  * gives null. Null-intolerant, so constraint inference still adds
  * `isnotnull` on the child's attributes. The bounds are plan constants.
  * See [[graft.clean.Validation.rangeFilter]].
  */
case class InRange(child: Expression, lo: Double, hi: Double)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"in_range requires double, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "in_range"
  override def sql: String = s"$prettyName(${child.sql}, $lo, $hi)"

  override protected def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    SQLOrderingUtil.compareDoubles(d, lo) >= 0 && SQLOrderingUtil.compareDoubles(d, hi) <= 0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cmp = SQLOrderingUtil.getClass.getName.stripSuffix("$") + ".compareDoubles"
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $cmp($v, ${InRange.javaLiteral(lo)}) >= 0 && " +
        s"$cmp($v, ${InRange.javaLiteral(hi)}) <= 0;")
  }

  override protected def withNewChildInternal(newChild: Expression): InRange =
    copy(child = newChild)
}

object InRange {
  /** A double as a Java source literal, including NaN and the infinities. */
  private def javaLiteral(d: Double): String =
    if (d.isNaN) "Double.NaN"
    else if (d.isPosInfinity) "Double.POSITIVE_INFINITY"
    else if (d.isNegInfinity) "Double.NEGATIVE_INFINITY"
    else s"${d}D"
}

/** Column-API constructors for the kernel expressions. */
object Native {
  private def C(e: Expression): Column = ColumnBridge.column(e)
  private def E(c: Column): Expression = ColumnBridge.eagerExpression(c)

  /** Unrounded cosine similarity; see [[graft.similarity.Similarity.cosine]]
    * for the rounded public form.
    */
  def cosineRaw(a: Column, b: Column): Column = C(CosineSim(E(a), E(b)))

  def dot(a: Column, b: Column): Column = C(DotProduct(E(a), E(b)))

  /** `lo <= v <= hi` for a double column `v`, with `v` evaluated once;
    * see [[InRange]]. */
  def inRange(v: Column, lo: Double, hi: Double): Column = C(InRange(E(v), lo, hi))

  def nearestCentroids(v: Column, ids: Array[Long], cents: Array[Array[Double]],
      n: Int): Column =
    C(NearestCentroids(E(v), ids.toSeq, cents.map(_.toSeq).toSeq, n))

  def bigrams(text: Column): Column = C(ShingleSet(E(text), 2))
  def shingles(text: Column, n: Int): Column = C(ShingleSet(E(text), n))

  def winnow(text: Column, k: Int, w: Int): Column = C(Winnow(E(text), k, w))

  def cdcChunks(text: Column, window: Int, maskBits: Int): Column =
    C(CdcChunks(E(text), window, maskBits))

  def minhashSlices(grams: Column): Column = C(MinhashSlices(E(grams)))

  def minhashSlicesSeeded(grams: Column, groups: Int): Column =
    C(MinhashSlicesSeeded(E(grams), groups))

  def simhash16(text: Column): Column = C(Simhash16(E(text)))

  def intersectCount(a: Column, b: Column): Column = C(IntersectCount(E(a), E(b)))

  def jaroWinkler(a: Column, b: Column): Column = C(JaroWinklerSim(E(a), E(b)))

  def tokenCount(text: Column): Column = C(TokenCount(E(text)))

  def tokenHits(text: Column, words: Seq[String]): Column = C(TokenHits(E(text), words))

  def subwordSum(text: Column): Column = C(SubwordSum(E(text)))

  def charSum(text: Column): Column = C(CharSum(E(text)))

  def int8QuantStats(vec: Column): Column = C(Int8QuantStats(E(vec)))

  def int8Codes(vec: Column): Column = C(Int8Codes(E(vec)))

  def cmsEstimate(key: Column, sketch: Array[Byte]): Column =
    C(CmsEstimate(E(key), sketch.toSeq))

  def pqEncode(vec: Column, ids: Array[Long], cents: Array[Array[Double]],
      m: Int): Column =
    C(PqEncode(E(vec), ids.toSeq, cents.map(_.toSeq).toSeq, m))

  def pqAdc(codes: Column, ids: Array[Long], table: Array[Array[Double]]): Column =
    C(PqAdc(E(codes), ids.toSeq, table.map(_.toSeq).toSeq))

  def adcTable(vec: Column, ids: Array[Long], cents: Array[Array[Double]],
      m: Int): Column =
    C(AdcTable(E(vec), ids.toSeq, cents.map(_.toSeq).toSeq, m))

  def pqAdcDyn(codes: Column, table: Column, ids: Array[Long]): Column =
    C(PqAdcDyn(E(codes), E(table), ids.toSeq))
}
