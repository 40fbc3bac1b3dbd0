package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, FloatType, LongType, StringType}

import graft.functions.{DotProductExpr, Hash60Expr, TokenizeExpr}

/** Optimizer rule rewriting two declarative hot-path idioms to the
  * engine's native codegen'd expressions, so user-written DataFrame/SQL
  * code gets the native kernels without knowing they exist (registered
  * via `SparkSessionExtensions.injectOptimizerRule` in
  * [[graft.GraftExtensions]] — the Rule[LogicalPlan] tier of the
  * extension surface, alongside the expression and strategy tiers).
  *
  * 1. The legacy 60-bit content hash
  *    `conv(substring(md5(c), 1, 15), 16, 10) :: long` → [[Hash60Expr]].
  *    Unconditionally sound: md5 output is always 32 lowercase hex
  *    chars, the 15-digit prefix always parses, the value fits a long,
  *    and both forms propagate null identically (bit-identity pinned by
  *    FunctionsSpec's legacy-equivalence test).
  *
  * 2. The documented tokenizer chain
  *    `split(trim(regexp_replace(regexp_replace(lower(x), "[^a-z0-9 ]",
  *    " "), " +", " ")), " ")` → [[TokenizeExpr]], and the bare
  *    normalize chain → the tokens re-joined by single spaces
  *    (value-identical by construction). Matched by the exact regex
  *    literals, so a similar-but-different chain never rewrites; the
  *    equivalence case analysis lives on [[TokenizeExpr]].
  *
  * 3. The declarative dot product
  *    `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0,
  *    (acc, v) -> acc + v)` → `if (size(a) = size(b))
  *    dot_product(a, b) else null`. Soundness guards, each necessary:
  *    - both operands must be attributes or literals — they appear
  *      twice in the rewrite (size guard + product), so duplicating an
  *      arbitrary expression tree could re-run expensive work (the
  *      pushdown-duplication pitfall from PLANS.md);
  *    - element types must be float/double with `containsNull = false`:
  *      a null element makes the fold null, while the native kernel
  *      reads raw slot bytes — only provably-dense arrays preserve
  *      semantics;
  *    - the else branch is `null`, not the original fold: with dense
  *      elements, unequal lengths mean `zip_with` null-pads and the
  *      first padded product nulls the whole sum — and keeping the
  *      original expression would re-match this rule forever, defeating
  *      the optimizer's fixed point. A null array input also lands in
  *      the else branch via the guard's null propagation, exactly like
  *      the higher-order form.
  *    Equal lengths + dense elements is precisely [[DotProductExpr]]'s
  *    documented bit-identity domain (same ascending-index double
  *    fold), so the DuckDB `list_sum(list_transform(...))` mirror of
  *    any rewritten query is unchanged.
  */
object GraftNativeRewrite extends Rule[LogicalPlan] {

  /** Kill switch (default on). Deployments that cannot guarantee a shared
    * driver/executor locale family — the soundness premise of the
    * tokenizer rewrite, see [[rootLikeLocale]] — set this to `false` per
    * session; the md5-hash and dot-product rewrites are locale-independent
    * but share the switch for operational simplicity. */
  val EnabledKey = "spark.graft.nativeRewrite.enabled"

  private def enabled: Boolean =
    graft.GraftConf.get(conf, EnabledKey)(_.toBooleanOption).getOrElse(true)

  /** The engine's documented normalize chain:
    * `trim(regexp_replace(regexp_replace(lower(x), "[^a-z0-9 ]", " "),
    * " +", " "))` — matched by its exact regex literals, so nothing
    * resembling-but-different rewrites. */
  private object NormalizeChain {
    def unapply(e: Expression): Option[Expression] = e match {
      // pos is pinned to 1: a replace starting at an explicit later
      // position is a DIFFERENT function (prefix preserved), not a
      // legacy spelling of the chain.
      case StringTrim(RegExpReplace(RegExpReplace(Lower(x),
            StringLiteral("[^a-z0-9 ]"), StringLiteral(" "), IntegerLiteral(1)),
            StringLiteral(" +"), StringLiteral(" "), IntegerLiteral(1)), None) =>
        Some(x)
      case _ => None
    }
  }

  /** The tokenizer-chain rewrite is locale-guarded: for strings
    * containing non-ASCII characters the chain's `lower` falls through
    * to the JVM default locale's full case mapping, and under a
    * Turkish/Azerbaijani default locale ASCII `I` maps to dotless `ı`
    * (a boundary) — a divergence [[TokenizeExpr]] does not reproduce.
    * Everywhere else the two are value-identical (the case analysis on
    * [[TokenizeExpr]]).
    *
    * DRIVER-LOCALE ASSUMPTION: this predicate reads the default locale of
    * the JVM running the optimizer (the driver), while the legacy `lower`
    * it licenses replacing executes under each EXECUTOR's default locale.
    * The rewrite is therefore only sound when driver and executors share a
    * locale family — true in local mode and in any sanely-provisioned
    * cluster (mixed-locale executor fleets already produce
    * nondeterministic `lower()` results with or without this rule, since
    * the same row may be mapped by different executors across retries).
    * Deployments that cannot guarantee this disable the rule via
    * [[EnabledKey]]. */
  private def rootLikeLocale: Boolean = {
    val lang = java.util.Locale.getDefault.getLanguage
    lang != "tr" && lang != "az"
  }

  /** `Cast(e, double)` or an `e` that is already double. */
  private object AsDouble {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(v, DoubleType, _, _)     => Some(v)
      case v if v.dataType == DoubleType => Some(v)
      case _                             => None
    }
  }

  private def dense(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, containsNull) => !containsNull
    case _                                               => false
  }

  private def cheap(e: Expression): Boolean = e match {
    case _: Attribute => true
    case _: Literal   => true
    case _            => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan else plan.transformAllExpressions {

      // The md5() API wraps its string argument in a cast to binary;
      // Hash60Expr takes the string itself (same UTF-8 bytes), so the
      // cast is stripped. A genuinely-binary md5 input is left alone.
      case Cast(Conv(Substring(Md5(Cast(x, BinaryType, _, _)),
              IntegerLiteral(1), IntegerLiteral(15)),
            IntegerLiteral(16), IntegerLiteral(10), _), LongType, _, _)
          if x.dataType.isInstanceOf[StringType] =>
        Hash60Expr(x)

      // The normalize→split tokenizer chain → the one-pass native
      // tokenizer (TokenizeExpr's scaladoc carries the per-code-point
      // equivalence analysis). A bare normalize chain becomes the
      // tokens joined back by single spaces — the same value by
      // construction (tokens are the maximal kept-character runs).
      case StringSplit(NormalizeChain(x), StringLiteral(" "), IntegerLiteral(-1))
          if rootLikeLocale =>
        TokenizeExpr(x)
      case NormalizeChain(x) if rootLikeLocale =>
        ArrayJoin(TokenizeExpr(x), Literal(" "), None)

      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(
              Multiply(AsDouble(xu: NamedLambdaVariable),
                AsDouble(yu: NamedLambdaVariable), _),
              Seq(xa: NamedLambdaVariable, ya: NamedLambdaVariable), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(
              Add(accU: NamedLambdaVariable, vU: NamedLambdaVariable, _),
              Seq(accA: NamedLambdaVariable, vA: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable,
              Seq(finA: NamedLambdaVariable), _))
          if xu.exprId == xa.exprId && yu.exprId == ya.exprId &&
            accU.exprId == accA.exprId && vU.exprId == vA.exprId &&
            fin.exprId == finA.exprId &&
            dense(a) && dense(b) && cheap(a) && cheap(b) =>
        If(EqualTo(Size(a, legacySizeOfNull = false),
            Size(b, legacySizeOfNull = false)),
          DotProductExpr(a, b), Literal(null, DoubleType))
    }
}
