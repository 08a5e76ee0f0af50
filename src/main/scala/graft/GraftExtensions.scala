package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Library entry point for `spark.sql.extensions`. On every session
  * built with
  *
  * {{{
  * --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * it injects the native functions listed in [[GraftFunctions.all]], so
  * `cosine_similarity`, `dot_product`, `poly_hash` and the rest resolve
  * in SQL and `expr(...)`, and it injects the [[graft.plans.NativeVectorRewrite]]
  * optimizer rule. This is the shared-cluster deployment shape: one
  * config line, and every notebook or job gets the functions.
  * [[GraftFunctions.registerAll]] is the same list for a session that
  * already exists. Library code needs neither route: it builds the
  * kernels as Columns through their typed constructors. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // HOF dot-product / squared-norm shapes rewrite to the codegen'd
    // DotProduct kernel (bit-identical semantics — see NativeVectorRewrite)
    ext.injectOptimizerRule(_ => graft.plans.NativeVectorRewrite)
  }
}
