package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions=graft.expressions.GraftExtensions` — the SQL-text
  * route to the native expressions, and to the TopK planner strategy.
  * The engine's own queries never need it: they build each expression as
  * a Column directly (`DotProduct.dot`, `NGrams.ngrams`, ...), so no key
  * depends on, or changes, a session's function registry. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The SQL functions, one entry each: name, info and builder. */
  private val functions = Seq(
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    fn("graft_minhash_sig", classOf[MinHashSig])(e => MinHashSig(e(0), e(1))),
    fn("graft_simhash", classOf[SimHashBits])(e => SimHashBits(e.head)),
    fn("graft_simhash_agg", classOf[SimHashAgg])(e => SimHashAgg(e.head)),
    fn("graft_top_run", classOf[TopRun])(e => TopRun(e.head)),
    fn("graft_ngrams", classOf[NGrams])(NGrams.build))

  /** The same functions and strategy on a session that already exists
    * (idempotent). */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
    graft.plans.TopK.register(spark)
  }
}
