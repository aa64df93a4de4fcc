package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 8-gram polynomial hashes of a string: for every window of 8
  * consecutive code points starting at `p`, `(Σ_j cp[p+j] · 31^(7-j)) %
  * 1000000007`, in window order. Strings shorter than 8 code points give
  * an empty array; null gives null.
  *
  * BIT-IDENTICAL (asserted by FunctionsSpec) to the SQL composition
  * `transform(sequence(1, length(text) - 7), p -> (Σ_j ascii(substr(text, p + j, 1)) * 31^(7-j)) % 1000000007)`
  * on strings of at least 8 code points: Spark's `ascii` returns the code
  * point of the first character and `length`/`substr` count code points.
  * The sum cannot overflow a long (max code point × Σ31^k ≈ 3.2e16).
  *
  * Why it exists: the lambda form evaluates 8 `substr` + 8 `ascii` calls
  * per window on the interpreted higher-order-function path, boxing every
  * element. This is CodegenFallback too, but decodes each code point once
  * and runs the window polynomial as a plain JVM loop.
  */
case class CharGramHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_gram_hashes expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numChars()
    val cps = new Array[Long](n)
    // Character boundaries exactly as UTF8String.substring walks them; a
    // non-ASCII character decodes the way Spark's `ascii` does
    // (String.codePointAt on the one-character substring).
    val nb = s.numBytes()
    var i = 0
    var c = 0
    while (c < n) {
      val b = s.getByte(i)
      val w = UTF8String.numBytesForFirstByte(b)
      cps(c) =
        if (b >= 0) b.toLong
        else s.copyUTF8String(i, math.min(i + w, nb) - 1).toString.codePointAt(0).toLong
      i += w
      c += 1
    }
    val out = new Array[Long](math.max(n - 7, 0))
    var p = 0
    while (p < out.length) {
      var h = 0L
      var j = 0
      while (j < 8) { h = h * 31 + cps(p + j); j += 1 }
      out(p) = h % CharGramHashes.Mod
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def prettyName: String = "char_gram_hashes"

  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
}

object CharGramHashes {
  private val Mod = 1000000007L

  /** Idempotently register `char_gram_hashes(text)` for SQL/`expr` use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_gram_hashes", exprs => CharGramHashes(exprs.head), "built-in")
}
