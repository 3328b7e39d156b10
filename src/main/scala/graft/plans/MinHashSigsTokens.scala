package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** minhash_sigs_tokens(text, w, k): the k MinHash signature slots of a
  * text's token w-gram shingle set in ONE compiled pass — min over
  * w-grams of xxhash64(i, gram) for i = 0..k-1, where the gram string
  * is `array_join(slice(split(trim(text), "\\s+"), p, w), " ")`,
  * exactly the semantics of the explode + groupBy(min×k) pipeline kept
  * in TextDedupSpec, which pins slot-for-slot lockstep against
  * [[graft.dedup.Dedup.minhashSignaturesTokens]], including whitespace
  * edge cases.
  *
  * Why an expression: the pipeline spelling explodes ~n_tokens gram
  * rows per document and shuffles them through k min-aggregates — a
  * corpus-sized exchange whose output is a pure per-document function.
  * Here tokenization, gram assembly and hashing run in one loop over
  * the document bytes; nothing is materialized and no aggregate runs.
  * min over the gram MULTISET equals min over the distinct set, so the
  * pipeline's array_distinct is semantics-free for signatures.
  *
  * Faithful tokenization details (pinned by the lockstep spec):
  *  - `trim` strips 0x20 SPACES only (Spark's default trim set);
  *  - the split separator is the Java regex \s+ = runs of ASCII
  *    [\t\n\x0B\f\r ];
  *  - Java split with limit -1 semantics: a string starting with a
  *    separator yields a leading EMPTY token, a trailing separator
  *    yields a trailing empty token, and the empty string yields one
  *    empty token — all reproduced here, since those empty tokens
  *    join into grams on the pipeline side too.
  *
  * Returns NULL when the text has fewer than w tokens (the pipeline
  * drops such docs at the explode — callers filter nulls, same
  * corpus). `w`/`k` must be foldable; k ≤ 1024 as a sanity bound.
  */
case class MinHashSigsTokensExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"${MinHashSigsTokens.NAME} arg 1 must be STRING")
    else if (second.dataType != IntegerType || !second.foldable)
      TypeCheckResult.TypeCheckFailure(s"${MinHashSigsTokens.NAME} arg 2 (w) must be a foldable INT")
    else if (third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(s"${MinHashSigsTokens.NAME} arg 3 (k) must be a foldable INT")
    else (second.eval(), third.eval()) match {
      case (null, _) | (_, null) =>
        TypeCheckResult.TypeCheckFailure(s"${MinHashSigsTokens.NAME} w/k must be non-NULL")
      case (w: Int, k: Int) if w < 1 || k < 1 || k > 1024 =>
        TypeCheckResult.TypeCheckFailure(s"${MinHashSigsTokens.NAME} needs w >= 1, 1 <= k <= 1024")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val w: Int = second.eval().asInstanceOf[Int]
  /** Per-slot seeds: xxhash64(i, g) == hash(g, seed = hash(i, 42)). */
  private lazy val seeds: Array[Long] = {
    val k = third.eval().asInstanceOf[Int]
    Array.tabulate(k)(i => XxHash64Function.hash(i, IntegerType, 42L))
  }

  override def nullSafeEval(t: Any, wv: Any, kv: Any): Any =
    MinHashSigsTokens.compute(t.asInstanceOf[UTF8String], w, seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("mhtSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"""
      ${ev.value} = graft.plans.MinHashSigsTokens.compute($t, $w, $seedsRef);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object MinHashSigsTokens {
  val NAME = "minhash_sigs_tokens"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** THE byte-level tokenizer shared by every token-gram kernel:
    * trim 0x20 only (Spark's default trim set), then Java
    * `"\\s+".split(s, -1)` semantics — leading separator ⇒ leading
    * empty token; trailing separator ⇒ trailing empty token;
    * empty / all-whitespace string ⇒ one / two empty tokens. Returns
    * (offsets, lengths) views into the byte array. */
  private[plans] def tokenize(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (lo == hi) { offs += lo; lens += 0 }
    else {
      var i = lo
      if (isWs(bytes(i))) {
        offs += i; lens += 0
        while (i < hi && isWs(bytes(i))) i += 1
        // all-whitespace after trim: Java split("\s+", -1) splits around
        // the full-string match into ["", ""] — leading AND trailing
        // empty tokens, not one
        if (i == hi) { offs += hi; lens += 0 }
      }
      while (i < hi) {
        val s0 = i
        while (i < hi && !isWs(bytes(i))) i += 1
        offs += s0; lens += (i - s0)
        if (i < hi) { // separator run; trailing run => trailing empty token
          while (i < hi && isWs(bytes(i))) i += 1
          if (i == hi) { offs += hi; lens += 0 }
        }
      }
    }
    (offs.toArray, lens.toArray)
  }

  /** Assemble the w-token gram starting at token p into `buf` (tokens
    * joined by 0x20); returns the gram byte length. */
  private[plans] def gramInto(bytes: Array[Byte], offs: Array[Int], lens: Array[Int],
                              p: Int, w: Int, buf: Array[Byte]): Int = {
    var pos = 0
    var j = 0
    while (j < w) {
      if (j > 0) { buf(pos) = ' '; pos += 1 }
      System.arraycopy(bytes, offs(p + j), buf, pos, lens(p + j))
      pos += lens(p + j)
      j += 1
    }
    pos
  }

  /** One pass: tokenize, slide a w-token window whose gram bytes are
    * copied into a reusable buffer and hashed with every seed. Called
    * from generated code. */
  def compute(text: UTF8String, w: Int, seeds: Array[Long]): ArrayData = {
    val bytes = text.getBytes
    val (offs, lens) = tokenize(bytes)
    val nTok = offs.length
    if (nTok < w) return null
    // max gram byte length for the buffer
    var maxGram = 0
    var p = 0
    while (p <= nTok - w) {
      var g = w - 1 // separators
      var j = 0
      while (j < w) { g += lens(p + j); j += 1 }
      if (g > maxGram) maxGram = g
      p += 1
    }
    val buf = new Array[Byte](maxGram)
    val k = seeds.length
    val mins = Array.fill(k)(Long.MaxValue)
    p = 0
    while (p <= nTok - w) {
      val pos = gramInto(bytes, offs, lens, p, w, buf)
      var i = 0
      while (i < k) {
        val h = XXH64.hashUnsafeBytes(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, seeds(i))
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
        s"$NAME takes exactly (text, w, k); got ${exprs.length} args")
    MinHashSigsTokensExpr(exprs(0), exprs(1), exprs(2))
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    Registration.tempFunction(spark, NAME, build)
}
