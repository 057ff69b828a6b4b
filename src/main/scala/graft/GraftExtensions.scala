package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{DotProductExpr, MinHashSignatureExpr, RabinFingerprintExpr, ShingleHashesExpr, SimHash64Expr}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions ([[GraftExtensions.functions]]) as SQL functions,
  * so `spark.sql` users get the same compiled operators as the Column API:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * spark.sql("SELECT <function>(lower(text), ...) FROM docs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    // band-join → interval-bucket equi-join rewrite (two-large-sides
    // scale path; see graft.plans.RangeJoinToBucket)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinToBucket())
    // strip BROADCAST hints from relations estimated past the cap
    // (explicit hints bypass autoBroadcastJoinThreshold; see
    // graft.plans.BroadcastGuardrail)
    ext.injectOptimizerRule(_ => graft.plans.BroadcastGuardrail())
  }
}

object GraftExtensions {
  private[graft] def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  private[graft] def boolArg(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got: $other")
  }

  /** The engine's SQL functions: (name, expression class, builder). Both
    * the session extension and [[register]] install exactly this list. */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("shingle_hashes", classOf[ShingleHashesExpr],
      args => ShingleHashesExpr(args.head, intArg(args(1), "shingle size k"))),
    ("minhash_signature", classOf[MinHashSignatureExpr],
      args => MinHashSignatureExpr(args.head, intArg(args(1), "signature length n"))),
    ("dot_product", classOf[DotProductExpr], args => DotProductExpr(args.head, args(1))),
    ("simhash64", classOf[SimHash64Expr], args => SimHash64Expr(args.head)),
    ("rabin_fingerprint", classOf[RabinFingerprintExpr],
      args => RabinFingerprintExpr(args.head, boolArg(args(1), "wordLevel"))))

  /** Same registrations for an already-running session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
