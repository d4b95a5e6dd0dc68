package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner 1975):
  * insert / delete / substitute / transpose-adjacent, where a
  * transposed pair MAY be edited again later (unlike the cheaper OSA
  * restriction). DuckDB's `damerau_levenshtein` is the unrestricted
  * form — probed: dl('ca','abc') = 2 (OSA would say 3) — so this kernel
  * implements the same recurrence to keep the oracle contract exact.
  *
  * BYTE semantics, like DuckDB (probed: levenshtein('café','cafe') = 2
  * there — both its string distances run over UTF-8 bytes, not
  * codepoints). On ASCII inputs byte and codepoint distances coincide;
  * the query rows stay on ASCII columns (p_name) so Spark's
  * char-semantics `levenshtein` and this byte-semantics kernel agree
  * with their DuckDB twins simultaneously.
  *
  * Scale: map-only scalar — O(|a|·|b|) time, O(|a|·|b|) ints per call
  * (the unrestricted recurrence consults d[k-1][l-1] for arbitrary
  * earlier rows, so the full matrix is kept — fine for the short keys
  * entity resolution feeds it; cap key length upstream for adversarial
  * input). Codegen calls the static kernel directly, so the expression
  * stays inside whole-stage codegen.
  */
object StringDistance {

  /** Unrestricted DL distance over UTF-8 bytes. */
  def damerau(a: UTF8String, b: UTF8String): Int = {
    val x = a.getBytes
    val y = b.getBytes
    val m = x.length
    val n = y.length
    if (m == 0) return n
    if (n == 0) return m
    val inf = m + n
    // d is (m+2) x (n+2), flattened; row stride n+2.
    val w = n + 2
    val d = new Array[Int]((m + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= m) {
      d((i + 1) * w) = inf
      d((i + 1) * w + 1) = i
      i += 1
    }
    var j = 0
    while (j <= n) {
      d(j + 1) = inf
      d(w + j + 1) = j
      j += 1
    }
    // da(c) = largest row index i' (1-based) with x(i'-1) == c, over
    // rows processed so far. Byte-indexed: 256 buckets.
    val da = new Array[Int](256)
    i = 1
    while (i <= m) {
      var db = 0
      j = 1
      while (j <= n) {
        val k = da(y(j - 1) & 0xff)
        val l = db
        var cost = 1
        if (x(i - 1) == y(j - 1)) { cost = 0; db = j }
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val tra = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var best = if (sub < ins) sub else ins
        if (del < best) best = del
        if (tra < best) best = tra
        d((i + 1) * w + j + 1) = best
        j += 1
      }
      da(x(i - 1) & 0xff) = i
      i += 1
    }
    d((m + 1) * w + n + 1)
  }
}

/** `damerau_levenshtein(a, b)` as a native codegen expression —
  * IntegerType result, exact parity with DuckDB's function of the same
  * name on ASCII input (byte semantics either side; see
  * [[StringDistance]]).
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // isInstanceOf, not ==: Spark 4 string columns may carry a non-default
    // collation; the byte-level kernel is collation-agnostic.
    if (left.dataType.isInstanceOf[StringType] &&
        right.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"damerau_levenshtein needs (string, string), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    StringDistance.damerau(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.StringDistance.damerau($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}
