package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native positional rolling-hash document fingerprint: one pass over the
  * token array computing `pmod(Σ (hash60(tok_i) % 1e6) * i, 2^31 - 1)`
  * with 1-based positions — bit-identical to the declarative
  * `pmod(aggregate(zip_with(toks, sequence(1, n), (t, i) =>
  * (hash60(t) % 1000000) * i), 0L, _+_), 2147483647)` form
  * ([[graft.functions.Text.fingerprintFromTokens]]; FunctionsSpec
  * fuzz-proves the parity).
  *
  * Parked in test sources, NOT shipped (r14): in an isolated A/B this expression
  * is 12% faster than the declarative fold (ZipWith + Sequence +
  * ArrayAggregate evaluate interpreted and materialize two intermediate
  * arrays per doc), but inside the full resident bench session
  * text_profile reproducibly ran 30-45% SLOWER with it (0.178-0.212
  * s/inst over six full-bench runs vs 0.143 declarative in the
  * controlled bisect) — a session-context JIT/GC effect the short probe
  * never sees. `Text.fingerprintFromTokens` therefore stays on the
  * declarative fold; this expression stays parity-tested so the
  * decision can be revisited WITH a full-bench matched pair.
  *
  * Null semantics mirror the declarative form exactly: null array →
  * null; EMPTY array → 0; any null ELEMENT → null (hash60 is
  * null-intolerant, the null poisons the fold, and the `when(size = 0)`
  * guard only rescues the empty case). One deliberate divergence,
  * impossible to reach in practice: past ~4e6 tokens in one document the
  * declarative fold's Long sum overflows — an error under ANSI mode —
  * where this loop wraps silently; the pmod of a wrapped sum is still
  * deterministic.
  */
case class TokenFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "token_fingerprint"

  override def nullSafeEval(v: Any): Any =
    TokenFingerprint.fingerprint(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val r = ctx.freshName("fp")
      s"""
         |java.lang.Long $r = graft.plans.TokenFingerprint.fingerprint($v);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprint =
    copy(child = newChild)
}

object TokenFingerprint {

  /** Shared kernel (interpreted eval + codegen). Boxed so the
    * null-element case can poison the result like the declarative fold.
    */
  def fingerprint(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return java.lang.Long.valueOf(0L)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc += (Hash60.hashUTF8(arr.getUTF8String(i)) % 1000000L) * (i + 1L)
      i += 1
    }
    java.lang.Long.valueOf(java.lang.Math.floorMod(acc, 2147483647L))
  }

  def apply(c: Column): Column =
    GraftBridge.column(TokenFingerprint(GraftBridge.expression(c)))
}
