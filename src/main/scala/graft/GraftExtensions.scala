package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{DotProduct, IndelRatio, KmvSketch, L2Quant, MinHashSig, SimHashSig, WordShingles}

/** Registers the engine's custom Catalyst expressions as SQL
  * functions, so `spark.sql("SELECT indel_ratio(a, b) …")` works the
  * same as the Column API.
  *
  * Installed at session build: [[Sessions.local]] passes it to
  * `withExtensions` for every local session, and a cluster deployment
  * sets `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "indel_ratio" -> (exprs => IndelRatio(exprs(0), exprs(1))),
    "minhash_sig" -> (exprs => MinHashSig(exprs(0), intLit(exprs(1)))),
    "simhash_sig" -> (exprs => SimHashSig(exprs(0))),
    "word_shingles" -> (exprs => WordShingles(exprs(0), intLit(exprs(1)))),
    "dot_d" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "l2_q" -> (exprs => L2Quant(exprs(0), exprs(1))),
    "kmv_sketch" -> (exprs =>
      KmvSketch(exprs(0), intLit(exprs(1))).toAggregateExpression()))
}
