package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExtTestBridge
import org.scalatest.funsuite.AnyFunSuite

/** The engine's one registration list, on both activation paths:
  * sessions built with the extensions (`GraftSession` layers; the
  * shared TestSpark session and its `newSession()`s), and
  * [[GraftExtensions.install]] on a live session the engine did not
  * build. The first tests drive the build/register hooks directly
  * against the live session, as SparkSession construction would.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val ext = {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    e
  }

  test("injects the as-of join planner strategy") {
    assert(ExtTestBridge.plannerStrategies(ext, spark)
      .contains(graft.plans.AsofJoinStrategy))
  }

  test("injected SQL functions work end-to-end and match the columnar twins") {
    ExtTestBridge.registerFunctions(ext, spark.sessionState.functionRegistry)
    val df = Seq((1L, Seq("alpha", "bravo", "charlie"))).toDF("id", "toks")
    df.createOrReplaceTempView("ext_toks")
    val viaSql = spark.sql(
      "SELECT simhash32(toks) AS sh, minhash32(toks, 4) AS mh FROM ext_toks").head()
    val viaCols = df.select(
      graft.functions.TextFunctions.simhash32Col(col("toks")).as("sh"),
      graft.functions.TextFunctions.minhashSignature(col("toks"), 4).as("mh")).head()
    assert(viaSql.getLong(0) == viaCols.getLong(0))
    assert(viaSql.getSeq[String](1) == viaCols.getSeq[String](1))
  }

  test("minhash32 k accepts foldable integrals (BIGINT cast, arithmetic), rejects non-foldable") {
    ExtTestBridge.registerFunctions(ext, spark.sessionState.functionRegistry)
    Seq((2L, Seq("a", "b"))).toDF("id", "toks").createOrReplaceTempView("ext_toks2")
    val r = spark.sql(
      "SELECT minhash32(toks, CAST(4 AS BIGINT)) AS mh, minhash32(toks, 2 + 2) AS mh2 FROM ext_toks2").head()
    assert(r.getSeq[String](0).length == 4)
    assert(r.getSeq[String](1).length == 4)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash32(toks, CAST(id AS INT)) AS mh FROM ext_toks2").collect()
    }
    assert(e.getMessage.contains("foldable") ||
      Option(e.getCause).exists(_.getMessage.contains("foldable")))
  }

  private val Custom = Seq("simhash32", "minhash32", "dot_d", "norm_d")

  private def asofStrategies(s: org.apache.spark.sql.SparkSession): Int =
    s.sessionState.planner.strategies.count(_ == graft.plans.AsofJoinStrategy)

  test("an extensions-built session resolves every custom function and plans as-of joins") {
    val s = spark.newSession()
    import s.implicits._
    val toks = Seq("alpha", "bravo", "charlie")
    Seq((toks, Seq(3.0, 4.0))).toDF("toks", "v").createOrReplaceTempView("ext_all")
    val r = s.sql("SELECT simhash32(toks) AS sh, minhash32(toks, 4) AS mh, " +
      "dot_d(v, v) AS dot, norm_d(v) AS norm FROM ext_all").head()
    val viaCols = Seq(toks).toDF("toks").select(
      graft.functions.TextFunctions.simhash32Col(col("toks")),
      graft.functions.TextFunctions.minhashSignature(col("toks"), 4)).head()
    assert(r.getLong(0) == viaCols.getLong(0))
    assert(r.getSeq[String](1) == viaCols.getSeq[String](1))
    assert(r.getDouble(2) == 25.0)
    assert(r.getDouble(3) == 5.0)
    assert(asofStrategies(s) == 1)
  }

  test("install on a session built without the extensions is idempotent") {
    val s = ExtTestBridge.bareSession(spark)
    val registry = s.sessionState.functionRegistry
    assert(!Custom.exists(n => registry.functionExists(FunctionIdentifier(n))))
    assert(asofStrategies(s) == 0)
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(Custom.forall(n => registry.functionExists(FunctionIdentifier(n))))
    assert(asofStrategies(s) == 1)
    assert(s.sql("SELECT norm_d(array(3.0D, 4.0D))").head().getDouble(0) == 5.0)
    GraftSession.QueryConfs.foreach { case (k, v) => assert(s.conf.get(k) == v) }
    // on an extensions-built session there is nothing to add
    val built = spark.newSession()
    GraftExtensions.install(built)
    assert(asofStrategies(built) == 1)
  }

  test("SparkEntry.queries runs on a session whose registry lacks the custom functions") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    Custom.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    assert(!Custom.exists(n => registry.functionExists(FunctionIdentifier(n))))
    Seq("q31_minhash_pairs", "q34_simhash_pairs", "q36_cosine_topk").foreach { q =>
      assert(SparkEntry.queries(q)(s, "/root/testdata/sf0.001").count() > 0, q)
    }
  }
}
