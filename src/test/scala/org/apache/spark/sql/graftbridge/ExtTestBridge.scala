package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test-only bridge to the `private[sql]` build/register hooks of
  * `SparkSessionExtensions` — the spec drives exactly what
  * SparkSession construction does with a configured extensions class,
  * without needing a fresh SparkContext (one per test JVM).
  */
object ExtTestBridge {
  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession) =
    ext.buildPlannerStrategies(spark)
  def registerFunctions(ext: SparkSessionExtensions, reg: FunctionRegistry): Unit =
    ext.registerFunctions(reg)

  /** A session on `spark`'s context built with no extensions — what a
    * session the engine did not build looks like.
    */
  def bareSession(spark: SparkSession): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession]
    // the primary constructor (shared state + explicit extensions) is
    // private to the companion; newSession() would copy the extensions
    classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }
}
