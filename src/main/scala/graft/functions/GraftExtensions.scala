package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point registering graft's native
  * expressions as SQL functions:
  *
  * {{{
  * graft.core.GraftSession.builder("app")
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *   // or: .withExtensions(new GraftExtensions)
  *   .getOrCreate()
  * }}}
  *
  * then `SELECT cosine_sim(a.embedding, b.embedding)`,
  * `SELECT simhash60(hs)`, `SELECT md5_hash60(text)` work in plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double arrays"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))
    ))
    ext.injectFunction((
      FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(hashes) - 60-bit simhash over an array of token hashes"),
      (exprs: Seq[Expression]) => SimHash60(exprs.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("md5_hash60"),
      info("md5_hash60", "md5_hash60(s) - first 60 bits of md5 as bigint"),
      (exprs: Seq[Expression]) => Md5Hash60(exprs.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("embed_stats"),
      info("embed_stats",
        "embed_stats(v) - struct(norm, n1, q_scale, q1, max_err) of a float/double array"),
      (exprs: Seq[Expression]) => EmbedStats(exprs.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash60"),
      info("shingle_hash60",
        "shingle_hash60(tokens, n) - distinct n-gram shingle md5-60 hashes of a token array"),
      (exprs: Seq[Expression]) => {
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"shingle_hash60 n must be an int literal, got $other")
        }
        ShingleHash60(exprs.head, n)
      }
    ))
  }
}
