package graft.functions.expr

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL registration of the engine's native expressions, so the SQL surface
  * ([[graft.pipeline.Views]]) reaches the same codegen'd kernels as the
  * DataFrame API: `SELECT cosine_sim(embedding, q) ...`,
  * `simhash64(tokens)`, `minhash_sig(shingles, 16)`, `shingles(text, 3)`,
  * `poly_rolling_hash(text)`.
  *
  * One registration path: [[graft.plans.GraftExtensions]] injects them at
  * session build ([[graft.Session]] sets
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: expected an INTEGER literal argument, got $other")
  }

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage,
      "", "", "", "misc_funcs", "1.0.0", "", "built-in")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info(classOf[CosineSim], "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two array<double> vectors; null on zero/mismatched vectors"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    (FunctionIdentifier("simhash64"),
      info(classOf[SimHash64], "simhash64",
        "simhash64(tokens) - 64-bit SimHash over an array<string> token column"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    (FunctionIdentifier("minhash_sig"),
      info(classOf[MinHashSig], "minhash_sig",
        "minhash_sig(shingles, k) - k-permutation MinHash signature over an array<string> shingle set"),
      (args: Seq[Expression]) => MinHashSig(args(0), intLit(args(1), "minhash_sig"))),
    (FunctionIdentifier("shingles"),
      info(classOf[Shingles], "shingles",
        "shingles(text, n) - distinct word n-gram shingles of a string"),
      (args: Seq[Expression]) => Shingles(args(0), intLit(args(1), "shingles"))),
    (FunctionIdentifier("poly_rolling_hash"),
      info(classOf[PolyRollingHash], "poly_rolling_hash",
        "poly_rolling_hash(text) - order-sensitive Rabin-Karp polynomial hash over codepoints"),
      (args: Seq[Expression]) => PolyRollingHash(args.head)))
}
