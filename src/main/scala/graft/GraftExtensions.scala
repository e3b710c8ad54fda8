package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotD, MinHash32, NormD, SimHash32}
import graft.plans.AsofJoinStrategy

/** The engine's custom Catalyst surface, named in ONE place:
  *
  *  - `AsofJoinStrategy` planner strategy (the native as-of join
  *    LogicalPlan → SparkPlan mapping, [[graft.plans.AsofJoin]])
  *  - `simhash32(tokens)` / `minhash32(shingles, k)` native expressions
  *    ([[graft.functions.SimHash32]] / [[graft.functions.MinHash32]])
  *  - `dot_d(a, b)` / `norm_d(a)` codegen'd vector folds
  *    ([[graft.functions.VecMath]])
  *
  * Activation: a session the engine builds gets the list at
  * construction (`withExtensions(new GraftExtensions)` in
  * [[GraftSession]]; cluster-wide with
  * `--conf spark.sql.extensions=graft.GraftExtensions`). A session the
  * engine did not build gets the same list from
  * [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    GraftExtensions.Functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private val Functions = Seq(
    fn("simhash32", classOf[SimHash32], exprs => {
      require(exprs.length == 1, s"simhash32(tokens) takes 1 arg, got ${exprs.length}")
      SimHash32(exprs.head)
    }),
    fn("minhash32", classOf[MinHash32], MinHash32.fromExprs),
    fn("dot_d", classOf[DotD], exprs => DotD(exprs(0), exprs(1))),
    fn("norm_d", classOf[NormD], exprs => NormD(exprs.head)))

  /** Applies the list to a live session — idempotent: a function or
    * the strategy already present (injected at construction or by an
    * earlier call) is left as is. Also sets the query confs of
    * [[GraftSession.QueryConfs]].
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    if (!spark.sessionState.planner.strategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies :+= AsofJoinStrategy
    GraftSession.QueryConfs.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
