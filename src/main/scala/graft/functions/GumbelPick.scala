package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * x145's per-occurrence Gumbel-argmax draw as ONE fused expression:
 * returns the 1-based rank r maximizing
 * `score_nano(r) + alpha * gumbel_nano(word, occ, r)` over the n-best
 * list, ties toward the LOWER rank — bit-identical to the interpreted
 * `array_max(transform(sequence(...), r -> struct(key, -r)))` chain it
 * replaces (that chain re-evaluated an md5 + double-ln ladder through
 * interpreted HOF plumbing per occurrence row):
 *  - `u = (conv(substring(md5('useg:'||word||':'||occ||':'||r),1,8),
 *    16,10) + 0.5) / 2^32` — the pinned md5-32 uniform;
 *  - `g = round(-ln(-ln(u)), 9)` with Spark `round`'s HALF_UP decimal
 *    semantics, frozen to nano units as one exact decimal step
 *    (`setScale(9).unscaledValue` == `CAST(round9 AS DECIMAL(20,9)) *
 *    1e9` — the PqLutMicro precedent);
 *  - key = `score_nano + alpha * g_nano` in exact int64.
 * `java.lang.Math.log` is the same libm call Spark's `ln` makes, so
 * the DuckDB oracle's replay (the x22/x24/x36 ln precedent) is
 * untouched. Returns null on a null/empty list (the call site folds it
 * to 0 to keep the join key non-nullable — PlanGuard check 6).
 */
case class GumbelPick(first: Expression, second: Expression,
    third: Expression, alpha: Long)
    extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  /** The n-best element struct, as [[checkInputDataTypes]] admits it. */
  @transient private lazy val nbStruct: StructType = third.dataType match {
    case ArrayType(st: StructType, _) => st
    case other => throw new IllegalStateException(
      s"gumbel_pick: unexpected input type $other")
  }
  /** The struct ordinal of `score_nano`, resolved from the child's type
    * (never a hardcoded position: a reordered n-best struct must fail
    * analysis, not silently read the wrong long). */
  @transient private lazy val scoreOrdinal: Int =
    nbStruct.fieldIndex("score_nano")
  @transient private lazy val nbFields: Int = nbStruct.size

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, LongType, ArrayType(st: StructType, _))
          if st.fieldNames.contains("score_nano") &&
            st("score_nano").dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "gumbel_pick expects (string, bigint, array<struct with a " +
          s"score_nano: bigint field>), got $other")
    }
  }

  @transient private lazy val md5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  override def nullSafeEval(word: Any, occ: Any, nb: Any): Any = {
    val list = nb.asInstanceOf[ArrayData]
    val n = list.numElements()
    if (n == 0) return null
    val w = word.asInstanceOf[UTF8String].toString
    val o = occ.asInstanceOf[Long]
    var best = 1
    var bestKey = Long.MinValue
    var r = 1
    while (r <= n) {
      val scoreNano = list.getStruct(r - 1, nbFields).getLong(scoreOrdinal)
      val d = md5.get()
      d.reset()
      d.update(s"useg:$w:$o:$r".getBytes("UTF-8"))
      val dig = d.digest()
      // first 8 hex chars == the top 4 digest bytes as unsigned 32-bit
      var v = 0L
      var i = 0
      while (i < 4) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
      val u = (v.toDouble + 0.5) / 4294967296.0
      val gNano = new JBigDecimal(
        java.lang.Double.toString(-math.log(-math.log(u))))
        .setScale(9, RoundingMode.HALF_UP).unscaledValue().longValueExact()
      val key = scoreNano + alpha * gNano
      // ascending-r iteration + STRICT > keeps the lower rank on ties
      if (key > bestKey) { bestKey = key; best = r }
      r += 1
    }
    best
  }

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "gumbel_pick"
}

object GumbelPick {
  import org.apache.spark.sql.GraftColumnBridge

  /** Public Column API: the drawn 1-based rank (null on empty list). */
  def pick(word: Column, occ: Column, nb: Column, alpha: Long): Column =
    GraftColumnBridge.column(GumbelPick(
      GraftColumnBridge.expression(word),
      GraftColumnBridge.expression(occ),
      GraftColumnBridge.expression(nb), alpha))
}
