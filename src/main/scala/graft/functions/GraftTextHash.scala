package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (JVM, codegen-called) implementations of the three per-row text
  * hashing pipelines the dedup family runs over every document. Each is
  * semantically identical to the interpreted higher-order-function form it
  * replaces (same md5 family, same integer arithmetic, same null/empty
  * semantics — the DuckDB oracle replays its own SQL unchanged and the
  * hash-compare proves equality), but runs as one compiled pass per row
  * instead of thousands of interpreted lambda invocations with per-element
  * struct/array allocation (guide §4: prefer codegen-friendly expressions
  * on the hot path; the r20 in-language rewrites of the same pipelines were
  * measured-and-rejected precisely because they stayed interpreted).
  *
  * All helpers are static-forwarder-callable from generated Java, so each
  * expression's whole-stage-codegen body is a single static call.
  */
object GraftHashHelpers {

  private val md5tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** MinHash signatures of a shingle set: for seeds 0..3, md5("{seed}|" +
    * shingle), each 128-bit digest sliced into four 8-hex-char chunks, min
    * per (seed, chunk) — sig(k) = chunk (k%4) of seed (k/4), K=16 total.
    * Lexicographic min of fixed-width lowercase hex == unsigned numeric min
    * of the 4 digest bytes, so minima are tracked as unsigned ints and
    * formatted once at the end. Null elements are skipped (their md5 is
    * NULL, which the interpreted min ignores); empty or all-null input →
    * 16 NULL sigs (the array_min-on-empty semantics of the interpreted
    * form). */
  def minhashSigs(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    val md = md5tl.get()
    // minima as unsigned ints (bits of digest bytes [4c, 4c+4) per seed)
    val mins = Array.fill(16)(0xFFFFFFFFL + 1L) // sentinel above any u32
    var seen = false
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        seen = true
        val xBytes = sh.getUTF8String(i).getBytes
        var sd = 0
        while (sd < 4) {
          md.reset()
          md.update(('0' + sd).toByte)
          md.update('|'.toByte)
          md.update(xBytes)
          val dig = md.digest()
          var c = 0
          while (c < 4) {
            val v = ((dig(4 * c) & 0xFFL) << 24) | ((dig(4 * c + 1) & 0xFFL) << 16) |
              ((dig(4 * c + 2) & 0xFFL) << 8) | (dig(4 * c + 3) & 0xFFL)
            val k = sd * 4 + c
            if (v < mins(k)) mins(k) = v
            c += 1
          }
          sd += 1
        }
      }
      i += 1
    }
    if (!seen) return new GenericArrayData(new Array[Any](16))
    val out = new Array[Any](16)
    var k = 0
    while (k < 16) {
      val v = mins(k)
      val cs = new Array[Byte](8)
      var j = 0
      while (j < 8) {
        cs(j) = HexChars(((v >>> ((7 - j) * 4)) & 0xF).toInt).toByte
        j += 1
      }
      out(k) = UTF8String.fromBytes(cs)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken) of a normalized
    * string: Rabin-Karp hashes of all 8-codepoint-grams (base 257 mod
    * 2^31−1, per-step mod), minimum of each sliding window of 4 hashes,
    * distinct (first-occurrence order). Strings shorter than 11 codepoints
    * → empty array. Codepoint semantics match DuckDB's
    * ord(substring(...)) — supplementary-plane characters count once. */
  def winnowFps(norm: UTF8String): ArrayData = {
    val s = norm.toString
    val sLen = s.length
    // codepoints
    var nCp = 0
    var ci = 0
    while (ci < sLen) { ci += Character.charCount(s.codePointAt(ci)); nCp += 1 }
    if (nCp < 11) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Long](nCp)
    ci = 0; var p = 0
    while (ci < sLen) {
      val cp = s.codePointAt(ci)
      cps(p) = cp.toLong
      ci += Character.charCount(cp); p += 1
    }
    val K = 8; val W = 4; val Mod = 2147483647L
    val nH = nCp - K + 1
    val hashes = new Array[Long](nH)
    var h = 0
    while (h < nH) {
      var acc = 0L
      var i = 0
      while (i < K) { acc = (acc * 257L + cps(h + i)) % Mod; i += 1 }
      hashes(h) = acc
      h += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var q = 0
    val nW = nH - W + 1
    while (q < nW) {
      var mn = hashes(q)
      var i = 1
      while (i < W) { if (hashes(q + i) < mn) mn = hashes(q + i); i += 1 }
      seen.add(mn)
      q += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** All stride-1 word k-grams of a token array, space-joined in order
    * (the `transform(sequence(0, size-k), i -> concat_ws(' ',
    * slice(toks, i+1, k)))` shape every stride-1 shingle site uses; null
    * tokens are skipped concat_ws-style, though the whitespace tokenizer
    * never produces them). Fewer than k tokens → empty array. */
  def ngramsK(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      words(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    val sp = UTF8String.fromString(" ")
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      // concat_ws semantics: UTF8String.concatWs itself skips null inputs
      // (separator only between non-nulls), so the window passes through
      val win = new Array[UTF8String](k)
      System.arraycopy(words, i, win, 0, k)
      out(i) = UTF8String.concatWs(sp, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 3-gram special case (kept as its own entry point so the existing
    * `graft_ngrams3` call sites and generated code stay stable). */
  def ngrams3(toks: ArrayData): ArrayData = ngramsK(toks, 3)
}

/** `graft_minhash(array<string>) -> array<string>`: the 16 MinHash
  * signatures of a shingle set in one native pass (see
  * [[GraftHashHelpers.minhashSigs]]). */
case class MinhashSigs(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<string> input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash"
  override protected def nullSafeEval(a: Any): Any =
    GraftHashHelpers.minhashSigs(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"graft.functions.GraftHashHelpers.minhashSigs($x)")
  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

/** `graft_winnow(string) -> array<bigint>`: winnowing fingerprint set of a
  * normalized string in one native pass (see [[GraftHashHelpers.winnowFps]]). */
case class WinnowFps(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow requires string input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override protected def nullSafeEval(a: Any): Any =
    GraftHashHelpers.winnowFps(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"graft.functions.GraftHashHelpers.winnowFps($x)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** `graft_ngrams3(array<string>) -> array<string>`: all word 3-grams,
  * space-joined (see [[GraftHashHelpers.ngrams3]]). */
case class Ngrams3(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams3 requires array<string> input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams3"
  override protected def nullSafeEval(a: Any): Any =
    GraftHashHelpers.ngrams3(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"graft.functions.GraftHashHelpers.ngrams3($x)")
  override protected def withNewChildInternal(newChild: Expression): Ngrams3 =
    copy(child = newChild)
}

/** `graft_ngrams(array<string>, k) -> array<string>`: all stride-1 word
  * k-grams, space-joined, for a FOLDABLE k >= 1, checked at analysis (see
  * [[GraftHashHelpers.ngramsK]]) — the generalization every stride-1
  * shingle site (2-gram repetition, 8-gram decontamination, L-token
  * exact-substring windows) shares. */
case class NgramsK(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), org.apache.spark.sql.types.IntegerType) =>
      if (!right.foldable)
        TypeCheckResult.TypeCheckFailure("graft_ngrams requires a literal k")
      else right.eval() match {
        // k = 0 would yield n + 1 empty grams, k < 0 a negative array size
        case k: Int if k < 1 =>
          TypeCheckResult.TypeCheckFailure(s"graft_ngrams requires k >= 1, got $k")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams requires (array<string>, int) input, got (${l.sql}, ${r.sql})")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"
  override protected def nullSafeEval(a: Any, k: Any): Any =
    GraftHashHelpers.ngramsK(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, k) =>
      s"graft.functions.GraftHashHelpers.ngramsK($x, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramsK =
    copy(left = newLeft, right = newRight)
}
