package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused k-seed MinHash signature of a shingle array — ONE pass over the
  * array computes all `num` per-seed minima, replacing the composed
  * `array((0 until k).map(i => array_min(transform(sh, x => hash(x, i)))))`
  * form, which re-traverses the array k times through interpreted
  * higher-order functions (transform/array_min are CodegenFallback) and
  * materializes a k-element intermediate array per (row, seed).
  *
  * Value-identical to the composed form by construction (MinHashSigSpec
  * pins both flavors element-for-element):
  *
  *  - `fast = false` (md5, the oracle flavor): per seed i the minimum of
  *    `md5(concat(x, ":" || i))` hex strings. Internally compares RAW
  *    digest bytes — lowercase-hex encoding is byte-order-preserving
  *    ('0'..'9' < 'a'..'f' in ASCII tracks nibble order), so the
  *    unsigned byte-wise min IS the lexicographic hex min — and
  *    hex-encodes only the k winners. One thread-local MessageDigest
  *    (the composed form allocates one per md5() CALL), one digest
  *    buffer reused across candidates, suffix bytes appended straight
  *    after the shingle bytes with no per-seed string concat. A NULL
  *    element hashes to NULL and is skipped (array_min semantics).
  *  - `fast = true` (xxhash64): per seed i the SIGNED-long minimum of
  *    `xxhash64(x, i)` = hashInt(i, hashString(x, 42)) — the string
  *    hash does not depend on the seed, so the fused kernel hashes each
  *    shingle's bytes ONCE and folds the 32 seed mixes from that one
  *    value, where the composed form re-hashed the full string per
  *    seed. A NULL element leaves the running hash at the seed
  *    (xxhash64 skips null children, it does not yield null), exactly
  *    like the composed expression.
  *
  * Output: array<string> (md5) / array<long> (fast), `num` elements,
  * null per seed only when no element contributed (empty array); null
  * input array yields null. Participates in whole-stage codegen via the
  * static kernels (the SimHash64 pattern).
  */
case class MinHashSig(child: Expression, numExpr: Expression,
    fastExpr: Expression) extends TernaryExpression {

  override def first: Expression = child
  override def second: Expression = numExpr
  override def third: Expression = fastExpr

  @transient private lazy val fast = fastExpr.eval().asInstanceOf[Boolean]
  @transient private lazy val num = numExpr.eval().asInstanceOf[Int]

  // defensive against a non-boolean/null third argument from SQL: lean
  // on `fast` only when fastExpr really folds to a Boolean, defaulting
  // to the md5 shape otherwise, so analysis paths that touch dataType
  // before checkInputDataTypes' TypeCheckFailure surfaces see a clean
  // type instead of a ClassCastException
  override def dataType: DataType = {
    val isFast = fastExpr.foldable &&
      (try fastExpr.eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case _ => false
      } catch { case _: Exception => false })
    if (isFast) ArrayType(LongType, containsNull = true)
    else ArrayType(StringType, containsNull = true)
  }

  // a NULL input array yields an array of `num` NULL minima, exactly like
  // the composed array(array_min(transform(null, …)), …) form — so the
  // expression itself never returns null
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, numExpr.dataType, fastExpr.dataType) match {
      case (ArrayType(StringType, _), IntegerType, BooleanType)
          if numExpr.foldable && fastExpr.foldable &&
            numExpr.eval() != null && fastExpr.eval() != null &&
            numExpr.eval().asInstanceOf[Int] > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "minhash_sig requires (array<string>, const positive int, " +
          s"const boolean), got (${child.dataType.simpleString}, " +
          s"${numExpr.dataType.simpleString}, ${fastExpr.dataType.simpleString})")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    MinHashSig.kernel(child.eval(input).asInstanceOf[ArrayData], num, fast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} = graft.functions.MinHashSig.kernel(
          ${c.isNull} ? null : ${c.value}, $num, $fast);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MinHashSig = copy(f, s, t)
}

object MinHashSig {

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** ":0", ":1", … suffix bytes, cached (every row re-derives them
    * otherwise; they depend only on the seed index).
    */
  @volatile private var suffixCache: Array[Array[Byte]] = Array.empty
  private def suffixes(num: Int): Array[Array[Byte]] = {
    val cached = suffixCache
    if (cached.length >= num) cached
    else synchronized {
      if (suffixCache.length < num)
        suffixCache = Array.tabulate(math.max(num, 64))(i =>
          (":" + i).getBytes("UTF-8"))
      suffixCache
    }
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex16(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >>> 4) & 0xF).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** byte-wise unsigned compare of two 16-byte digests. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xFF
      val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Static kernel shared by interpreted eval and generated code. A null
    * input array yields `num` null minima (the composed form's value).
    */
  def kernel(arr: ArrayData, num: Int, fast: Boolean): ArrayData =
    if (arr == null) new GenericArrayData(new Array[Any](num))
    else if (fast) kernelFast(arr, num)
    else kernelMd5(arr, num)

  /** Whether this JVM's MD5 MessageDigest supports clone() — probed
    * once; the clone-prefix fast path below falls back to the plain
    * loop when it does not (r16 ADVICE). Any non-fatal probe failure
    * means "no": an escaping throwable would fail this object's
    * initializer and poison MinHashSig for the whole JVM.
    */
  private val md5Cloneable: Boolean =
    try {
      java.security.MessageDigest.getInstance("MD5").clone(); true
    } catch { case scala.util.control.NonFatal(_) => false }

  private def kernelMd5(arr: ArrayData, num: Int): ArrayData = {
    val sfx = suffixes(num)
    val mins = new Array[Array[Byte]](num)
    val buf = new Array[Byte](16)
    val md = md5Local.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).getBytes
        // only the 2-4 byte ":k" suffix differs per seed, so for long
        // shingles hash the shingle ONCE into a prefix digest state and
        // per seed clone + absorb the suffix (r16 ADVICE). Below one
        // MD5 block (64 B) update() only buffers bytes — no compression
        // is saved and the per-seed clone allocation would cost more
        // than the memcpy it avoids — so short shingles keep the plain
        // loop.
        if (md5Cloneable && s.length >= 64) {
          md.reset()
          md.update(s)
          var k = 0
          while (k < num) {
            val mk = md.clone().asInstanceOf[java.security.MessageDigest]
            mk.update(sfx(k))
            mk.digest(buf, 0, 16)
            if (mins(k) == null) mins(k) = java.util.Arrays.copyOf(buf, 16)
            else if (less(buf, mins(k)))
              System.arraycopy(buf, 0, mins(k), 0, 16)
            k += 1
          }
        } else {
          var k = 0
          while (k < num) {
            md.reset()
            md.update(s)
            md.update(sfx(k))
            md.digest(buf, 0, 16)
            if (mins(k) == null) mins(k) = java.util.Arrays.copyOf(buf, 16)
            else if (less(buf, mins(k)))
              System.arraycopy(buf, 0, mins(k), 0, 16)
            k += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](num)
    var k = 0
    while (k < num) {
      if (mins(k) != null) out(k) = hex16(mins(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  private def kernelFast(arr: ArrayData, num: Int): ArrayData = {
    val mins = new Array[Long](num)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      // a NULL element leaves the string fold at the seed (42), matching
      // xxhash64's skip-null-children semantics — it still contributes
      val h0 =
        if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var k = 0
      while (k < num) {
        val h = XXH64.hashInt(k, h0)
        if (!any || h < mins(k)) mins(k) = h
        k += 1
      }
      any = true
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](num))
    else new GenericArrayData(mins)
  }

  /** SQL builder — shared by [[register]] and graft.GraftExtensions. */
  private[graft] def builder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    require(exprs.size == 3,
      s"minhash_sig(shingles, num, fast) expects 3 arguments, got ${exprs.size}")
    MinHashSig(exprs(0), exprs(1), exprs(2))
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", builder, "scala_udf")

  def minhashSig(spark: SparkSession, shingles: Column, num: Int,
      fast: Boolean): Column = {
    register(spark)
    call_function("minhash_sig", shingles, lit(num), lit(fast))
  }
}
