package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo,
  Generator, GenericInternalRow, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Analysis-time input guard for the vector kernels: the float/double kernel
  * dispatch reads array storage via getFloat/getDouble, so an array<int>/
  * array<long> child would read 4-byte views of the wrong lanes and emit
  * deterministic garbage (silent recall loss — round-5 ADVICE asked for a
  * rejection, not a wrong answer). */
private[functions] trait FloatOrDoubleArrayInputs { self: Expression =>
  protected def vectorInputs: Seq[Expression]
  override def checkInputDataTypes(): TypeCheckResult = {
    vectorInputs.zipWithIndex.collectFirst {
      case (e, i) if !e.dataType.isInstanceOf[ArrayType] ||
          (e.dataType.asInstanceOf[ArrayType].elementType != FloatType &&
            e.dataType.asInstanceOf[ArrayType].elementType != DoubleType) =>
        TypeCheckResult.TypeCheckFailure(
          s"argument ${i + 1} of ${self.prettyName} requires array<float> or " +
            s"array<double>, got ${e.dataType.catalogString}")
    }.getOrElse {
      // The kernels dispatch on ONE side's element type (isFloat reads the
      // left/only child), so a mixed array<float> × array<double> call would
      // read 4-byte views of 8-byte lanes on the other side — the same
      // silent-garbage class this trait rejects for ints. Require agreement.
      val elems = vectorInputs.map(_.dataType.asInstanceOf[ArrayType].elementType)
      if (elems.distinct.size > 1)
        TypeCheckResult.TypeCheckFailure(
          s"${self.prettyName} requires all vector arguments to share one element " +
            s"type, got ${vectorInputs.map(_.dataType.catalogString).mkString(" vs ")}" +
            "; cast one side (float and double kernels cannot mix)")
      else TypeCheckResult.TypeCheckSuccess
    }
  }
}

/** Custom Catalyst expressions for the operators Spark lacks as builtins.
  *
  * All of them stay inside whole-stage codegen: doGenCode emits a direct call
  * to the static kernels in [[Similarity]], so there is no UDF serialization,
  * no InternalRow boxing, and the surrounding project/filter fuses into one
  * generated function.
  */

/** jaro_winkler(string, string) -> double. North-star string similarity on
  * title/text fields (not in the reference, which used learned encoders —
  * deeper_models.py:385-440 — replaced per the frozen-scorer design). */
case class JaroWinklerExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Similarity.jaroWinkler(l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Similarity.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine_sim(array<float|double>, array<float|double>) -> double.
  * Reference semantics: Dot(axes=1, normalize=True), Deeper.py:296-298. */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression
    with FloatOrDoubleArrayInputs {
  override protected def vectorInputs: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (isFloat) Similarity.cosineFloat(a, b) else Similarity.cosineDouble(a, b)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "cosineFloat" else "cosineDouble"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Similarity.$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** minhash_bands(string) -> array<long>: one band key per LSH band, computed
  * in a single pass over the UTF8 bytes. Shingles: char 3-grams
  * (tokenShingles = false — ER blocking on noisy text) or whitespace tokens
  * (true — signatures estimate the distinct-token-set Jaccard that dedup
  * verification computes). */
case class MinHashBandsExpr(child: Expression, bands: Int, rows: Int, seed: Long,
                            tokenShingles: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private def fn: String = if (tokenShingles) "minHashBandsTokensArray" else "minHashBandsArray"
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    if (tokenShingles) Similarity.minHashBandsTokensArray(s, bands, rows, seed)
    else Similarity.minHashBandsArray(s, bands, rows, seed)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Similarity.$fn($c, $bands, $rows, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** levenshtein_sim(string, string) -> double in [0,1] over `cap`-char
  * prefixes; allocation-free (thread-local DP scratch). */
case class LevenshteinSimExpr(left: Expression, right: Expression, cap: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Similarity.levenshteinSimFast(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], cap)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Similarity.levenshteinSimFast($a, $b, $cap)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** norm_text(string) -> string: single-pass clean_text normalization
  * (see [[TextNorm]]) — fused replacement for a 7-pass regex chain. */
case class NormTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType // string in, string out
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextNorm.normalize(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNorm.normalize($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** simhash64(string) -> long: Charikar sim-hash over whitespace tokens. */
case class SimHash64Expr(child: Expression, seed: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Similarity.simHash64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Similarity.simHash64($c, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** inverse_lp(array, array) -> double: exp(−‖a−b‖_p) for p ∈ {1, 2}
  * (Deeper.py:299-305) — single-pass allocation-free kernels (the zip_with/
  * aggregate higher-order form materializes an intermediate array per row;
  * this is the phase-1 cascade hot path). */
case class InverseLpExpr(left: Expression, right: Expression, p: Int)
    extends BinaryExpression with FloatOrDoubleArrayInputs {
  override protected def vectorInputs: Seq[Expression] = Seq(left, right)
  require(p == 1 || p == 2, s"inverse_lp supports p=1|2, got $p")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def fn: String = s"invL$p" + (if (isFloat) "Float" else "Double")
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (p, isFloat) match {
      case (1, true) => Similarity.invL1Float(a, b)
      case (1, false) => Similarity.invL1Double(a, b)
      case (2, true) => Similarity.invL2Float(a, b)
      case (_, false) => Similarity.invL2Double(a, b)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Similarity.$fn($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** avg_pool_embed(binary, dim) -> array<float>: block-average pooling of a
  * byte payload into a centered fixed-dim vector — the deterministic,
  * locality-preserving feature extractor for media columns (the offline
  * CNN's .npy features in the reference, imagess/dir_image.py:94-152, play
  * this role; a real deployment swaps the kernel, the Spark plumbing is
  * identical). Empty input → empty array. */
case class AvgPoolExpr(child: Expression, dim: Int) extends UnaryExpression {
  require(dim > 0, "avg_pool_embed needs dim > 0")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Similarity.avgPool(v.asInstanceOf[Array[Byte]], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Similarity.avgPool($c, $dim)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** multi_avg_pool_embed(binary|string, dim) -> array<float>: single-pass
  * multi-image media featurizer — finds every embedded `data:image/...;
  * base64,` payload in the html, pools each ([[Similarity.avgPool]]) and
  * returns the element-wise mean over the page's image set. One scan of the
  * html bytes inside whole-stage codegen; the compositional
  * regexp_extract_all + aggregate/zip_with form re-ran the regex per
  * expression reference (measured +34% on the er hot path). */
case class MultiAvgPoolExpr(child: Expression, dim: Int) extends UnaryExpression {
  require(dim > 0, "multi_avg_pool_embed needs dim > 0")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private def isBinary: Boolean = child.dataType == BinaryType
  private def fn: String = if (isBinary) "multiAvgPool" else "multiAvgPoolStr"
  override protected def nullSafeEval(v: Any): Any =
    if (isBinary) Similarity.multiAvgPool(v.asInstanceOf[Array[Byte]], dim)
    else Similarity.multiAvgPoolStr(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Similarity.$fn($c, $dim)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** jaccard_sorted(array<string>, array<string>) -> double: distinct-set
  * Jaccard of two SORTED string arrays by allocation-free linear merge —
  * the verify kernel of the near-dup operators (array_intersect builds a
  * hash set per call; at ~10^8 verify pairs per corpus pass that allocation
  * was the stage's dominant cost). Caller contract: inputs sorted+distinct
  * (array_sort ∘ array_distinct). */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_sorted requires array<string> args, got " +
        Seq(left, right).map(_.dataType.catalogString).mkString(", "))
  }
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Similarity.jaccardSorted(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Similarity.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ngram_rep_stats(string, n) -> struct<total, max_c, dup_mass>: per-row
  * token n-gram repetition statistics (the Gopher-style quality signals) in
  * one pass over the lowered text — replaces an explode + per-(doc, gram)
  * groupBy + per-doc groupBy + join pipeline (two corpus shuffles of gram
  * strings) with a shuffle-free projection: the stats are per-DOCUMENT, so
  * nothing about them needs to leave the row. */
case class NgramRepStatsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "ngram_rep_stats needs n >= 1")
  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("max_c", LongType, nullable = false),
    StructField("dup_mass", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_rep_stats requires string, got ${child.dataType.catalogString}")
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Similarity.ngramRepStats(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Similarity.ngramRepStats($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** first_equal_index(array<long>, array<long>) -> int: first index where the
  * two arrays hold equal values, -1 if none — the banded-LSH first-collision
  * dedup rule (emit a candidate pair only from the first shared band), fully
  * codegen'd and allocation-free. */
case class FirstEqualIndexExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq(left, right).zipWithIndex.collectFirst {
      case (e, i) if e.dataType != ArrayType(LongType, containsNull = false) &&
          e.dataType != ArrayType(LongType, containsNull = true) =>
        TypeCheckResult.TypeCheckFailure(
          s"argument ${i + 1} of first_equal_index requires array<long>, got " +
            e.dataType.catalogString)
    }
    bad.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Similarity.firstEqualIndex(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Similarity.firstEqualIndex($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** srp_bucket(array<float|double>) -> int: sign-random-projection LSH bucket
  * for embedding vectors (ANN / near-dup blocking at scale). Kernel picked by
  * element type, like [[CosineSimExpr]] — getFloat over double storage would
  * read 4-byte halves of 8-byte lanes and emit garbage buckets. */
case class SrpBucketExpr(child: Expression, nBits: Int, seed: Long) extends UnaryExpression
    with FloatOrDoubleArrayInputs {
  override protected def vectorInputs: Seq[Expression] = Seq(child)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def fn: String = if (isFloat) "srpBucket" else "srpBucketDouble"
  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (isFloat) Similarity.srpBucket(a, nBits, seed)
    else Similarity.srpBucketDouble(a, nBits, seed)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Similarity.$fn($c, $nBits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** block_members(key, member, cap) -> rows (key, n, members): streaming
  * per-key grouping over input SORTED BY key within each partition (a
  * sortWithinPartitions on it). One row per key with n ≥ 2 rows:
  * its size n and, while n ≤ cap, its members; past cap the buffer is
  * dropped (members = null) and only the count goes on, so a task never
  * holds more than cap rows of a hot key. cap = 0 is a plain count that
  * still references every member column (column pruning then cannot hand
  * the counting reader a narrower, separately shuffled input).
  *
  * A key's row is emitted when the next key starts, and the last one from
  * terminate(), which only the interpreted generate path calls — hence
  * CodegenFallback. A key arriving out of order fails loudly: the input was
  * not sorted, and its groups would be silently split. */
case class BlockMembersExpr(key: Expression, member: Expression, cap: Int)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(key, member)
  override def elementSchema: StructType = StructType(Seq(
    StructField("key", key.dataType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("members", ArrayType(member.dataType, containsNull = false))))
  override def checkInputDataTypes(): TypeCheckResult = member.dataType match {
    case _: StructType if RowOrdering.isOrderable(key.dataType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"block_members requires an orderable key and a struct member, got " +
        s"${key.dataType.catalogString} and ${other.catalogString}")
  }

  /** Per-task grouping state (each task deserializes its own copy). */
  private final class Group {
    var key: Any = null
    var n = 0L
    var rows: mutable.ArrayBuffer[InternalRow] = null
  }
  @transient private lazy val group = new Group
  @transient private lazy val keyOrdering = TypeUtils.getInterpretedOrdering(key.dataType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val k = key.eval(input)
    val g = group
    val done =
      if (g.key != null && keyOrdering.equiv(k, g.key)) Iterator.empty
      else {
        if (g.key != null && keyOrdering.lt(k, g.key))
          throw new IllegalStateException(
            s"block_members: key $k after ${g.key} — input not sorted by key")
        val out = flush()
        g.key = InternalRow.copyValue(k)
        g.n = 0L
        g.rows = if (cap > 0) mutable.ArrayBuffer.empty[InternalRow] else null
        out
      }
    g.n += 1
    if (g.rows != null) {
      if (g.n > cap) g.rows = null
      else g.rows += InternalRow.copyValue(member.eval(input)).asInstanceOf[InternalRow]
    }
    done
  }

  override def terminate(): IterableOnce[InternalRow] = flush()

  private def flush(): Iterator[InternalRow] = {
    val g = group
    if (g.key == null || g.n < 2) Iterator.empty
    else Iterator.single(InternalRow(g.key, g.n,
      if (g.rows == null) null else new GenericArrayData(g.rows.toArray[Any])))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(key = c(0), member = c(1))
}

/** block_pairs(array<struct<id, p…>>) -> rows (id1, id2, p_1, p_2, …): every
  * unordered pair of a block's members exactly once, canonical (id1 < id2
  * under the id type's ordering), each payload field following its own row.
  * Codegen'd as an iterator over the member array: no join, no hash build,
  * and the consumer (pair filter, dedup aggregate) fuses behind it. */
case class BlockPairsExpr(child: Expression) extends UnaryExpression with Generator {
  private def memberType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.nonEmpty &&
        RowOrdering.isOrderable(st.head.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "block_pairs requires array<struct<id, ...>> with an orderable first field, got " +
        other.catalogString)
  }
  override def elementSchema: StructType = {
    val id = memberType.head
    StructType(Seq(id.copy(name = "id1"), id.copy(name = "id2")) ++
      memberType.tail.flatMap(f => Seq(f.copy(name = s"${f.name}_1"), f.copy(name = s"${f.name}_2"))))
  }
  @transient private lazy val fieldTypes = memberType.map(_.dataType).toArray
  @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(fieldTypes(0))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a = child.eval(input)
    if (a == null) Iterator.empty else pairs(a.asInstanceOf[ArrayData])
  }

  /** The pair iterator over one member array (called from generated code). */
  def pairs(a: ArrayData): Iterator[InternalRow] = {
    val n = a.numElements()
    if (n < 2) return Iterator.empty
    val width = fieldTypes.length
    val members = Array.tabulate(n) { i =>
      val r = a.getStruct(i, width)
      Array.tabulate[Any](width)(f => r.get(f, fieldTypes(f)))
    }
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 1
      override def hasNext: Boolean = i < n - 1
      override def next(): InternalRow = {
        val (lo, hi) =
          if (idOrdering.lt(members(i)(0), members(j)(0))) (members(i), members(j))
          else (members(j), members(i))
        val out = new Array[Any](2 * width)
        var f = 0
        while (f < width) { out(2 * f) = lo(f); out(2 * f + 1) = hi(f); f += 1 }
        j += 1
        if (j == n) { i += 1; j = i + 1 }
        new GenericInternalRow(out)
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = child.genCode(ctx)
    val self = ctx.addReferenceObj("blockPairs", this)
    ev.copy(code = code"""
      |${arr.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} = ${arr.isNull}
      |  ? scala.collection.Iterator$$.MODULE$$.empty() : $self.pairs(${arr.value});
      |""".stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level API + SQL registration. */
object GraftFunctions {
  import org.apache.spark.sql.functions._

  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = GraftColumnBridge.expression(c)

  def jaro_winkler(l: Column, r: Column): Column = col(JaroWinklerExpr(ex(l), ex(r)))
  def norm_text(c: Column): Column = col(NormTextExpr(ex(c)))
  def levenshtein_sim(l: Column, r: Column, cap: Int): Column =
    col(LevenshteinSimExpr(ex(l), ex(r), cap))
  def cosine_sim(l: Column, r: Column): Column = col(CosineSimExpr(ex(l), ex(r)))
  def minhash_bands(c: Column, bands: Int, rows: Int, seed: Long): Column =
    col(MinHashBandsExpr(ex(c), bands, rows, seed))
  def minhash_token_bands(c: Column, bands: Int, rows: Int, seed: Long): Column =
    col(MinHashBandsExpr(ex(c), bands, rows, seed, tokenShingles = true))
  def simhash64(c: Column, seed: Long = 0L): Column = col(SimHash64Expr(ex(c), seed))
  def first_equal_index(l: Column, r: Column): Column = col(FirstEqualIndexExpr(ex(l), ex(r)))
  def ngram_rep_stats(c: Column, n: Int): Column = col(NgramRepStatsExpr(ex(c), n))
  def jaccard_sorted(l: Column, r: Column): Column = col(JaccardSortedExpr(ex(l), ex(r)))
  def srp_bucket(c: Column, nBits: Int, seed: Long): Column = col(SrpBucketExpr(ex(c), nBits, seed))
  def avg_pool_embed(c: Column, dim: Int): Column = col(AvgPoolExpr(ex(c), dim))
  def multi_avg_pool_embed(c: Column, dim: Int): Column = col(MultiAvgPoolExpr(ex(c), dim))
  def block_members(key: Column, member: Column, cap: Int): Column =
    col(BlockMembersExpr(ex(key), ex(member), cap))
  def block_pairs(members: Column): Column = col(BlockPairsExpr(ex(members)))

  /** Numeric similarity family, exactly the reference's formulas
    * (Deeper.py:327-343) — pure Column expressions, fully codegen'd. */
  def scaled_inverse_lp(a: Column, b: Column): Column =
    exp(lit(-2.0) * abs(a - b) / (a + b + lit(1e-5)))
  def unscaled_inverse_lp(a: Column, b: Column): Column = exp(-abs(a - b))
  def min_max_ratio(a: Column, b: Column): Column = least(a, b) / (greatest(a, b) + lit(1e-5))

  /** exp(-Σ|aᵢ-bᵢ|) over vectors — Deeper.py:299-301 (codegen'd kernel). */
  def inverse_l1(a: Column, b: Column): Column = col(InverseLpExpr(ex(a), ex(b), 1))

  /** exp(-sqrt(Σ(aᵢ-bᵢ)²)) over vectors — Deeper.py:302-305 (codegen'd kernel). */
  def inverse_l2(a: Column, b: Column): Column = col(InverseLpExpr(ex(a), ex(b), 2))

  private val sqlFns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_jaro_winkler" -> (es => JaroWinklerExpr(es(0), es(1))),
    "graft_cosine_sim" -> (es => CosineSimExpr(es(0), es(1))),
    "graft_simhash64" -> (es => SimHash64Expr(es(0), 0L))
  )

  /** Session-local registration (usable from spark.sql). */
  def registerAll(spark: SparkSession): Unit = sqlFns.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  private[functions] def injectables
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    sqlFns.map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)
    }
}

/** SparkSessionExtensions hook: register the custom expressions at session
  * build time (`.withExtensions(new GraftExtensions)` or
  * spark.sql.extensions=graft.functions.GraftExtensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.injectables.foreach(e.injectFunction)
}
