package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprint: minimum of a Karp-Rabin rolling hash over a
  * sliding character window (winnowing-style min-sampling), as a NATIVE
  * Catalyst expression with whole-stage codegen (`doGenCode`) — the
  * preferred extension point when built-in functions can't express an
  * operator (a per-character rolling loop can't be written with
  * higher-order array functions without exploding the string).
  *
  * Identical normalized content ⇒ identical fingerprint; robust to
  * appended/prepended noise longer than the window (the min survives).
  */
case class RollingFingerprint(child: Expression, window: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  // AbstractDataType is private[sql]; let override inference pick the type
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "rolling_fingerprint"

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    RollingFingerprint.fingerprint(input.asInstanceOf[UTF8String].toString, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.RollingFingerprint.fingerprint($c.toString(), $window)")
}

object RollingFingerprint {
  /** Window used when the SQL surface / library callers don't pass one —
    * kept in lockstep with the q17 DuckDB oracle's 32-power CTE. */
  final val DefaultWindow = 32
  final val Base = 1000003L
  final val Mod = (1L << 61) - 1

  /** Min rolling hash over `window`-char windows of the lowercased,
    * whitespace-collapsed text. Called from both interpreted eval and
    * generated code. */
  def fingerprint(raw: String, window: Int): Long = {
    val s = normalize(raw)
    val n = s.length
    if (n == 0) return 0L
    val w = math.min(window, n)
    // precompute Base^(w-1) mod Mod
    var pow = 1L
    var i = 0
    while (i < w - 1) { pow = mulMod(pow, Base); i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = (mulMod(h, Base) + s.charAt(i)) % Mod; i += 1 }
    var min = h
    i = w
    while (i < n) {
      h = (h + Mod - mulMod(s.charAt(i - w), pow) % Mod) % Mod
      h = (mulMod(h, Base) + s.charAt(i)) % Mod
      if (h < min) min = h
      i += 1
    }
    min
  }

  def normalize(raw: String): String = {
    if (raw == null) return ""
    raw.toLowerCase.replaceAll("\\s+", " ").trim
  }

  /** (a*b) mod (2^61-1) without BigInteger: 2^64 ≡ 2^3 (mod 2^61-1), so
    * fold the 128-bit product hi:lo as (lo mod M) + (hi*8 + lo>>>61).
    * DuckDB's HUGEINT reproduces it exactly, which keeps the hash
    * oracle-expressible. */
  private def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & Mod) + ((hi << 3) | (lo >>> 61))
    while (r >= Mod) r -= Mod
    r
  }

  /** Column API (the Spark-4 classic Expression↔Column bridge). */
  def rolling_fingerprint(c: Column, window: Int = 32): Column =
    GraftBridge.column(RollingFingerprint(GraftBridge.expression(c), window))
}
