package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.CodegenCacheShim

import graft.plans.{DotExpr, NormExpr, SrpSignExpr}

/** SparkSessionExtensions entry point (SURVEY §4.2 extension ladder):
  * registers the native vector expressions in the SQL FUNCTION
  * REGISTRY, so plain `spark.sql` users get the whole-stage-codegen'd
  * kernels — `vec_dot(a, b)`, `vec_norm(a)`, `srp_sign(v, bits)` —
  * without touching the Scala DSL. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (already
  * set by graft.Harness.session). It also sizes
  * Spark's generated-class cache for graft's working set
  * (`CodegenCacheEntries`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    CodegenCacheShim.sizeIfUnset(GraftExtensions.CodegenCacheEntries)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotExpr].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "vec_dot(a, b) takes two array<double>")
        DotExpr(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[NormExpr].getName, "vec_norm"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "vec_norm(a) takes one array<double>")
        NormExpr(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("srp_sign"),
      new ExpressionInfo(classOf[SrpSignExpr].getName, "srp_sign"),
      (args: Seq[Expression]) => {
        require(args.size == 2 && args(1).foldable,
          "srp_sign(v, bits) takes an array<double> and a literal bit count")
        SrpSignExpr(args(0), args(1).eval().asInstanceOf[Number].intValue())
      }))
    // Spark ships BloomFilterMightContain for its own runtime-filter
    // rewrite but keeps it out of the public registry; surface it so an
    // explicit Bloom pre-filter (join_bloom_prefilter) probes inside
    // whole-stage codegen instead of through a scalar UDF.
    ext.injectFunction((FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "might_contain"),
      (args: Seq[Expression]) => {
        require(args.size == 2,
          "might_contain(bloom_bytes, key) takes a binary sketch and a long key")
        BloomFilterMightContain(args(0), args(1))
      }))
  }
}

object GraftExtensions {

  /** Default size of Spark's JVM-wide generated-class cache in a session
    * that loads this extension; Spark's own default is 100. The cache is
    * an LRU keyed by source and class loader, so a working set larger
    * than it misses on every access and each run recompiles source that
    * did not change. One sf0.001 pass over all 414 declared queries
    * leaves 3,528 entries, and an entry holds about 29 KB of heap, so a
    * full cache costs about 120 MB. An explicit
    * `spark.sql.codegen.cache.maxEntries` wins.
    */
  val CodegenCacheEntries: Int = 4096
}
