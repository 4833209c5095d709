package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions._

/** `SparkSessionExtensions` hook registering the library's SQL functions.
  * It adds no planner rules: every operator plans through Catalyst's own
  * strategies.
  *
  * Wire it either way:
  *   - `GraftSession.builder(...)` applies it via `withExtensions`;
  *   - external apps set `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Registered SQL functions (usable directly in `spark.sql`):
  * `vector_dot(a, b)`, `vector_norm(a)`, `vector_average(a, dim)`,
  * `word_shingles(text, n)`, `minhash_signature(shingles, k)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vector_dot"),
      info("vector_dot", "vector_dot(a, b) - double-precision dot product of two float/double arrays"),
      (args: Seq[Expression]) => VectorDotProduct(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vector_norm"),
      info("vector_norm", "vector_norm(a) - L2 norm of a float/double array"),
      (args: Seq[Expression]) => VectorL2Norm(args(0))))
    ext.injectFunction((FunctionIdentifier("vector_average"),
      info("vector_average", "vector_average(a, dim) - element-wise mean aggregate over fixed-dim vectors"),
      (args: Seq[Expression]) => VectorAverage(args(0),
        intLit(args(1), "vector_average", "dim")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - distinct n-token shingles of a tokenized text"),
      (args: Seq[Expression]) => WordShingles(args(0),
        intLit(args(1), "word_shingles", "n"))))
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(shingle, k) - k-hash MinHash signature aggregate over one shingle per row"),
      (args: Seq[Expression]) => MinHashSignature(args(0),
        intLit(args(1), "minhash_signature", "k")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("minhash_array"),
      info("minhash_array", "minhash_array(shingles, k) - scalar k-hash MinHash signature of a shingle array (no explode, no shuffle)"),
      (args: Seq[Expression]) => MinHashArray(args(0),
        intLit(args(1), "minhash_array", "k"))))
    ext.injectFunction((FunctionIdentifier("simhash_array"),
      info("simhash_array", "simhash_array(tokens) - scalar 64-bit SimHash of a token array (no explode, no shuffle)"),
      (args: Seq[Expression]) => SimHashArray(args(0))))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity (prefix-boosted, DuckDB-identical)"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("sorted_intersect"),
      info("sorted_intersect", "sorted_intersect(a, b) - linear-merge intersection of two sorted bigint arrays (no per-row hash set)"),
      (args: Seq[Expression]) => SortedLongIntersect(args(0), args(1))))
  }
}
