package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of the engine's native Catalyst expressions,
  * so they are callable from `spark.sql(...)` and not only through the
  * Column API:
  *
  *  - `graft_sha_prefix(str, hexChars)` — [[ShaPrefixLong]], the portable
  *    SHA-256-prefix long (value-identical to
  *    `conv(substr(sha2(s,256),1,n),16,10)`);
  *  - `graft_hyperplane_bucket(vec, numPlanes, dims, table)` —
  *    [[HyperplaneBucket]], the sign-random-projection LSH bucket;
  *  - `graft_minhash(hashedArr, k)` — [[MinHashOverHashed]], all k
  *    MinHash minima over a hashed-shingle array in one pass;
  *  - `graft_simhash(hashedArr, bits)` — [[SimHashOverHashed]], the
  *    full SimHash signature in one pass;
  *  - `graft_sorted_intersect_count(a, b)` — [[SortedLongIntersectCount]],
  *    the codegen'd merge-walk `size(array_intersect(a, b))` over sorted
  *    distinct long arrays.
  *
  * Two wiring paths, same registrations:
  *
  *  - new sessions: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *    (or the session builder's `withExtensions(new GraftExtensions)`);
  *  - an existing session: `GraftExtensions.register(spark)` — the
  *    injection hook only runs at session construction, so a live
  *    session (notebook, test harness) registers into its own function
  *    registry directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {

  /** A constructor argument that must be a foldable integer literal —
    * plane counts / dims / prefix widths parameterize generated code, so
    * a non-literal is a wiring error worth a clear message. */
  private def intArg(fn: String, e: Expression, pos: Int): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("graft_sha_prefix"),
      new ExpressionInfo(classOf[ShaPrefixLong].getName, "graft_sha_prefix"),
      (args: Seq[Expression]) => {
        arity("graft_sha_prefix", args, 2)
        ShaPrefixLong(args.head, intArg("graft_sha_prefix", args(1), 1))
      }),
    (FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "graft_hyperplane_bucket"),
      (args: Seq[Expression]) => {
        arity("graft_hyperplane_bucket", args, 4)
        HyperplaneBucket(args.head,
          intArg("graft_hyperplane_bucket", args(1), 1),
          intArg("graft_hyperplane_bucket", args(2), 2),
          intArg("graft_hyperplane_bucket", args(3), 3))
      }),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashOverHashed].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        arity("graft_minhash", args, 2)
        MinHashOverHashed(args.head, intArg("graft_minhash", args(1), 1))
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashOverHashed].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        arity("graft_simhash", args, 2)
        SimHashOverHashed(args.head, intArg("graft_simhash", args(1), 1))
      }),
    (FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName,
        "graft_sorted_intersect_count"),
      (args: Seq[Expression]) => {
        arity("graft_sorted_intersect_count", args, 2)
        SortedLongIntersectCount(args.head, args(1))
      }))

  /** Register into an already-constructed session (the injection hook
    * only runs at construction time). Idempotent: re-registration
    * overwrites with identical builders. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      org.apache.spark.sql.GraftShim.registerFunction(spark, ident, info, builder)
    }
}
