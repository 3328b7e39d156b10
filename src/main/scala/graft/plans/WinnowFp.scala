package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** winnow_fp(text): a document's winnowing fingerprint in ONE compiled
  * pass — STRUCT(n_grams INT, wfp ARRAY<BIGINT>) where n_grams is the
  * rolling-hash count and wfp the winnowed fingerprint set, exactly the
  * semantics of the HOF twin spellings
  * [[graft.operators.TextAnalysis.rollingHashesExpr]] +
  * [[graft.operators.TextAnalysis.winnowExpr]] (lockstep-pinned):
  *
  *  - gram hashes: for every 5-code-point window,
  *    (c0·4362470401 + c1·16974593 + c2·66049 + c3·257 + c4) mod
  *    1000000007 — none for < 5 code points;
  *  - winnow: min of every 4-window of consecutive gram hashes
  *    (final window truncated like SQL slice), distinct in
  *    first-occurrence order (array_distinct parity).
  *
  * Why an expression: the HOF spelling evaluates an interpreted
  * transform∘sequence with per-character substring/ascii calls — ~10
  * interpreted expression nodes per corpus CHARACTER — plus a second
  * interpreted pass for the winnow mins. Here both passes run in one
  * primitive loop, making winnowing viable as a full-corpus fingerprint
  * (the MOSS-style overlap-robust dedup key), not just a bounded-slice
  * query. Code points are iterated exactly as substring/ascii count
  * them, so the twin contract is not ASCII-limited.
  */
case class WinnowFpExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("wfp", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${WinnowFp.NAME} arg must be STRING")

  override def nullSafeEval(t: Any): Any =
    WinnowFp.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"""
      ${ev.value} = graft.plans.WinnowFp.compute($t);
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WinnowFp {
  val NAME = "winnow_fp"
  private val MOD = 1000000007L
  private val C0 = 4362470401L
  private val C1 = 16974593L
  private val C2 = 66049L
  private val C3 = 257L

  /** One pass: decode code points, roll the 5-gram hash window, winnow
    * 4-windows of hashes with first-occurrence dedup. Called from
    * generated code. */
  def compute(text: UTF8String): InternalRow = {
    // code points exactly as Spark's substring/ascii count characters —
    // decoded into a primitive int[] (sized at the char-length upper
    // bound, truncated to the code-point count): no Integer box per
    // corpus character on THE hot path this kernel exists to optimize
    val s = text.toString
    val cp = new Array[Int](s.length)
    var m = 0
    var si = 0
    while (si < s.length) {
      val c = s.codePointAt(si)
      cp(m) = c
      m += 1
      si += Character.charCount(c)
    }
    val nGrams = math.max(m - 4, 0)
    val hs = new Array[Long](nGrams)
    var j = 0
    while (j < nGrams) {
      hs(j) = (cp(j).toLong * C0 + cp(j + 1).toLong * C1 +
        cp(j + 2).toLong * C2 + cp(j + 3).toLong * C3 +
        cp(j + 4).toLong) % MOD
      j += 1
    }
    val wfp: Array[Long] =
      if (nGrams == 0) Array.emptyLongArray
      else {
        // windows i = 0 .. max(nGrams-4, 0): SQL sequence(1,
        // greatest(size-3, 1)) with slice truncating the final windows
        val nWin = math.max(nGrams - 3, 1)
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        var i = 0
        while (i < nWin) {
          var mn = Long.MaxValue
          var t = i
          val end = math.min(i + 4, nGrams)
          while (t < end) { if (hs(t) < mn) mn = hs(t); t += 1 }
          seen.add(mn)
          i += 1
        }
        val out = new Array[Long](seen.size)
        val it = seen.iterator()
        var o = 0
        while (it.hasNext) { out(o) = it.next(); o += 1 }
        out
      }
    InternalRow(nGrams, new GenericArrayData(wfp))
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"$NAME takes exactly (text); got ${exprs.length} args")
    WinnowFpExpr(exprs.head)
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
