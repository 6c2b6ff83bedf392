package graft

import graft.expr.{CosineSimilarity, DistinctNgramCodes, DotProduct, Int8Dot, L2Distance, MinHashSig, NgramDupCounts, SimHash62, TopKBy, WinnowFp}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's vector kernels as
  * SQL functions so `spark.sql("SELECT vec_dot(a, b) ...")` works — the
  * SQL-facing surface of the custom Catalyst expressions (SURVEY.md §4.3).
  *
  * Usage:
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * or spark.sql.extensions=graft.GraftExtensions, or imperatively via
  * [[GraftExtensions.register]] on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          builder))
    }
}

object GraftExtensions {
  private def binary(name: String, f: (Expression, Expression) => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { args =>
      require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
      f(args(0), args(1))
    }

  /** `name(text, params…)` of a one-pass text kernel: checks the arity
    * and that every param is an INT literal, then builds the kernel. */
  private def sketch(name: String, text: String, params: String*)(
      f: (Expression, Seq[Int]) => Expression): (String, Seq[Expression] => Expression) =
    name -> { args =>
      require(args.length == params.length + 1,
        s"$name expects (${(text +: params).mkString(", ")}), got ${args.length} args")
      val ints = args.tail.collect { case Literal(v: Int, _) => v }
      if (ints.length != params.length) throw new IllegalArgumentException(
        s"$name: ${params.mkString(" and ")} must be " +
          (if (params.length == 1) "an INT literal" else "INT literals"))
      f(args.head, ints)
    }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    binary("vec_dot", DotProduct),
    binary("vec_cosine", CosineSimilarity),
    binary("vec_l2", L2Distance),
    binary("vec_dot_i8", Int8Dot),
    // topk_by(payload, order, k[, desc=true]) — aggregate: array of the
    // top-k payloads per group by order key (bounded heap, no sort)
    "topk_by" -> { args =>
      require(args.length == 3 || args.length == 4,
        s"topk_by expects (payload, order, k[, desc]), got ${args.length} args")
      // match the unboxed type explicitly: an erased asInstanceOf would let
      // e.g. CAST(3 AS BIGINT) through here and die later as a bare CCE
      val k = args(2) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"topk_by: k must be an INT literal, got $other")
      }
      val desc = if (args.length < 4) true else args(3) match {
        case Literal(v: Boolean, _) => v
        case other => throw new IllegalArgumentException(
          s"topk_by: desc must be a BOOLEAN literal, got $other")
      }
      TopKBy(args(0), args(1), k, desc).toAggregateExpression()
    },
    // the one-pass text-sketch kernels (inputs must be pre-normalized —
    // compose with lower/trim/regexp_replace as graft.ops.Dedup.normText)
    sketch("minhash_sig", "normText", "numHashes", "w") { (t, p) => MinHashSig(t, p(0), p(1)) },
    sketch("simhash62", "normText") { (t, _) => SimHash62(t) },
    sketch("ngram_dup_counts", "normText", "n") { (t, p) => NgramDupCounts(t, p(0)) },
    sketch("distinct_ngram_codes", "normText", "n") { (t, p) => DistinctNgramCodes(t, p(0)) },
    sketch("winnow_fp", "text", "k", "t") { (t, p) => WinnowFp(t, p(0), p(1)) })

  /** Imperative registration on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
