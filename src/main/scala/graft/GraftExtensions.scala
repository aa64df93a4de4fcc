package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session-extensions injector — the deployment-grade packaging of graft's
  * Catalyst surface. A cluster opts in once:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or in code:
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * }}}
  *
  * and every session gets the native functions (codegen'd expressions, not
  * UDFs) plus the window-top-k optimizer rewrite and its physical strategy
  * — no per-query `register` calls. The per-object `register` helpers stay
  * for ad-hoc sessions; this class is the same builders routed through
  * `SparkSessionExtensions.injectFunction/injectOptimizerRule/
  * injectPlannerStrategy`, applied at session build time (so the rule also
  * covers `spark.sql(...)` text queries from the first statement).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    GraftExtensions.builtins.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
  }
}

object GraftExtensions {
  /** The graft native-function surface (same builders as each object's
    * `register` helper). `graft_bloom_agg` mirrors
    * [[graft.functions.BloomFunctions.registerAgg]]; probe registration
    * stays per-build because the serialized filter is a runtime value.
    */
  val builtins: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ws_distinct_tokens" -> ((exprs: Seq[Expression]) => DistinctTokens(exprs.head)),
    "minhash_sig" -> ((exprs: Seq[Expression]) =>
      MinHashSignature(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())),
    "simhash64" -> ((exprs: Seq[Expression]) => SimHash64(exprs.head)),
    "char_gram_hashes" -> ((exprs: Seq[Expression]) => CharGramHashes(exprs.head)),
    "srp_bands" -> ((exprs: Seq[Expression]) =>
      SrpBands(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())),
    "cosine_sim" -> ((exprs: Seq[Expression]) =>
      CosineSimilarity(exprs.head, exprs(1))),
    "sorted_intersect_count" -> ((exprs: Seq[Expression]) =>
      SortedIntersectCount(exprs.head, exprs(1))),
    "sig_agree_count" -> ((exprs: Seq[Expression]) =>
      SigAgreeCount(exprs.head, exprs(1)))
  )
}
