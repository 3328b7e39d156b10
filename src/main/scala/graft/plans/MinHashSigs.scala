package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** minhash_sigs(text, n, k): the k MinHash signature slots of a text's
  * character n-gram shingle set in ONE compiled pass — min over shingles
  * of xxhash64(i, shingle) for i = 0..k-1, exactly the semantics of the
  * former explode + groupBy(min×k) pipeline, kept in TextDedupSpec,
  * which pins slot-for-slot lockstep.
  *
  * Why an expression: the pipeline spelling materializes an interpreted
  * HOF shingle array per document, explodes it to |corpus|·|shingles|
  * rows, and drives k min-aggregates over them — per-corpus-byte CPU and
  * a full pass of generated rows, for a value that is a pure function of
  * the document. Here the shingle window slides inside one loop; nothing
  * is materialized and no aggregate runs. min over the shingle MULTISET
  * equals min over the distinct set, so the old array_distinct is
  * semantics-free for signatures and dropped.
  *
  * Returns NULL for length(text) < n (the old pipeline dropped such docs
  * at the explode — callers filter nulls, same corpus). `n`/`k` must be
  * foldable; k ≤ 1024 as a sanity bound.
  */
case class MinHashSigsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"${MinHashSigs.NAME} arg 1 must be STRING")
    else if (second.dataType != IntegerType || !second.foldable)
      TypeCheckResult.TypeCheckFailure(s"${MinHashSigs.NAME} arg 2 (n) must be a foldable INT")
    else if (third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(s"${MinHashSigs.NAME} arg 3 (k) must be a foldable INT")
    else (second.eval(), third.eval()) match {
      case (null, _) | (_, null) =>
        TypeCheckResult.TypeCheckFailure(s"${MinHashSigs.NAME} n/k must be non-NULL")
      case (n: Int, k: Int) if n < 1 || k < 1 || k > 1024 =>
        TypeCheckResult.TypeCheckFailure(s"${MinHashSigs.NAME} needs n >= 1, 1 <= k <= 1024")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val n: Int = second.eval().asInstanceOf[Int]
  /** Per-slot seeds: xxhash64(i, g) == hash(g, seed = hash(i, 42)). */
  private lazy val seeds: Array[Long] = {
    val k = third.eval().asInstanceOf[Int]
    Array.tabulate(k)(i => XxHash64Function.hash(i, IntegerType, 42L))
  }

  override def nullSafeEval(t: Any, nv: Any, kv: Any): Any =
    MinHashSigs.compute(t.asInstanceOf[UTF8String], n, seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"""
      ${ev.value} = graft.plans.MinHashSigs.compute($t, $n, $seedsRef);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object MinHashSigs {
  val NAME = "minhash_sigs"

  /** One sliding-window pass; called from generated code. Hashes each
    * n-gram's byte range directly with the static XXH64 kernel —
    * xxhash64 of a STRING is the hash of its UTF-8 bytes, so windowing
    * over precomputed code-point offsets gives byte-identical results
    * to substring + xxhash64 without per-call type dispatch or
    * per-shingle UTF8String allocation (the loop runs |text|·k times). */
  def compute(text: UTF8String, n: Int, seeds: Array[Long]): ArrayData = {
    val numChars = text.numChars()
    if (numChars < n) return null
    val bytes = text.getBytes
    // code-point start offsets (starts(numChars) = end sentinel)
    val starts = new Array[Int](numChars + 1)
    var ci = 0
    var bi = 0
    while (bi < bytes.length) {
      starts(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    starts(numChars) = bytes.length
    val k = seeds.length
    val mins = Array.fill(k)(Long.MaxValue)
    var p = 0
    while (p <= numChars - n) {
      val off = starts(p)
      val len = starts(p + n) - off
      var i = 0
      while (i < k) {
        val h = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, seeds(i))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      p += 1
    }
    new GenericArrayData(mins)
  }

  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"$NAME takes exactly (text, n, k); got ${exprs.length} args")
    MinHashSigsExpr(exprs(0), exprs(1), exprs(2))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
