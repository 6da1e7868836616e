package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused text normalization for the exact-dedup fingerprint
  * (SURVEY.md §2.11): lowercase → strip chars outside [a-z0-9 ] →
  * collapse space runs, in ONE pass over the string.
  *
  * The reference form is the regex chain
  * `regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " ")`
  * — which is also what the DuckDB oracle computes, so the two stay
  * differentially pinned through llm_exact_dedup's hash compare, and a
  * property spec asserts byte-equality on the fixture corpus. The regex
  * chain walks the string three times through the java.util.regex
  * machinery; at 500k ~900-char docs (a ×100 corpus) that was ~55 s of
  * an exact dedup run — the normalization IS the scan kernel of
  * exact dedup at 100 TB, so it gets the native-loop treatment like the
  * MinHash/vector kernels beside it.
  *
  * Unicode note: the kernel lowercases per-char
  * (Character.toLowerCase), the regex form per-string. They can only
  * diverge on 1:N lowercase mappings, and every such char is outside
  * [a-z0-9 ] both ways (dropped) or maps into it identically (e.g.
  * U+0130 → 'i'); ASCII — the fixture corpus and any pre-normalized
  * training text — is bit-identical by construction.
  *
  * Locale caveat: for strings containing ANY non-ASCII char, Spark's
  * lower() falls through to locale-sensitive String.toLowerCase, so
  * under e.g. a Turkish default JVM locale an ASCII 'I' in a
  * mixed-script string lowercases to dotless U+0131 (dropped by the
  * regex form) while this kernel's per-char path always maps 'I'→'i'
  * (kept, locale-free). The kernel's behavior is the intended,
  * deterministic one; differential fingerprint==fingerprintRegex
  * checks are only valid under a ROOT/en-class JVM locale (pass
  * -Duser.language=en or use Locale.setDefault in the harness) or on
  * pure-ASCII data, which is what the fixture corpus guarantees.
  */
object TextNorm {

  def normalizeForFingerprint(text: Column): Column =
    ColumnShim.column(NormalizeForFingerprintExpr(ColumnShim.expression(text)))

  /** One-pass kernel; called from both interpreted and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val in = s.toString
    val n = in.length
    val out = new java.lang.StringBuilder(n)
    var lastSpace = false
    var i = 0
    while (i < n) {
      var c = in.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      else if (c > 127) c = Character.toLowerCase(c)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        out.append(c); lastSpace = false
      } else if (c == ' ' && !lastSpace) {
        out.append(' '); lastSpace = true
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}

case class NormalizeForFingerprintExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"fingerprint_norm needs a string column, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextNorm.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextNorm.normalize($c)")

  override def prettyName: String = "fingerprint_norm"
  override protected def withNewChildInternal(
      newChild: Expression): NormalizeForFingerprintExpr = copy(child = newChild)
}
