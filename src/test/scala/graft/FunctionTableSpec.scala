package graft

import java.lang.reflect.Modifier

import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** `functions.sqlFunctions` is the one list of graft's SQL functions:
  * GraftSparkExtensions and registerAll each register exactly that table,
  * every entry rejects a wrong argument count with Spark's analysis error,
  * and the Column API has one method per entry with the same arity. */
class FunctionTableSpec extends AnyFunSuite {
  private val table = functions.sqlFunctions
  private val names = table.map(_.name).toSet

  /** A fresh session over the shared context whose graft functions come
    * only from the extension (built as in GraftSparkExtensionsSpec: the
    * static `spark.sql.extensions` conf is on the context; no registerAll). */
  private def withExtensionOnlySession(body: SparkSession => Unit): Unit = {
    graft.SparkFixture.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** One call per entry with one argument too many (and one too few when
    * that is still >= 0): each must fail analysis as WRONG_NUM_ARGS. */
  private def assertArityChecked(s: SparkSession): Unit =
    for (f <- table; n <- Seq(f.arities.min - 1, f.arities.max + 1) if n >= 0) {
      val e = intercept[AnalysisException](
        s.sql(s"SELECT ${f.name}(${Seq.fill(n)("NULL").mkString(", ")})"))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"${f.name} with $n args: ${e.getMessage}")
    }

  test("the table names each function once") {
    assert(table.size == names.size,
      table.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n })
  }

  test("an extensions-only session registers exactly the table and checks every arity") {
    withExtensionOnlySession { s =>
      val reg = Bridge.functionRegistry(s)
      val injected = reg.listFunction()
        .filter(id => reg.lookupFunction(id).exists(_.getClassName == "graft"))
        .map(_.funcName).toSet
      assert(injected == names, s"missing: ${names -- injected}; extra: ${injected -- names}")
      assert(names.forall(n => s.catalog.functionExists(n)))
      // the five that once resolved only through registerAll
      val r = s.sql(
        """SELECT st_envelope_bounds(st_point(1D, 2D)) AS b,
          |       st_distance_geodesic(st_point(10D, 20D), st_point(10D, 20D)) AS d""".stripMargin)
        .head()
      assert(r.getStruct(0) == Row(1.0, 2.0, 1.0, 2.0))
      assert(r.getDouble(1) == 0.0)
      val mg = s.sql(
        "SELECT mg_agg(CAST(x % 3 AS BIGINT), 4) FROM range(30) t(x)").head()
      assert(mg.getSeq[Long](0) == Seq(0L, 1L, 2L))
      val kmv = s.sql(
        """SELECT kmv_merge_agg(sk, 4) FROM (
          |  SELECT kmv_agg(CAST(x AS BIGINT), 4) AS sk FROM range(10) t(x)
          |  GROUP BY x % 2)""".stripMargin).head()
      assert(kmv.getSeq[Long](0) == Seq(0L, 1L, 2L, 3L))
      val mrl = s.sql(
        """SELECT mrl_merge_agg(sk, 64) FROM (
          |  SELECT mrl_agg(CAST(x AS BIGINT), 64) AS sk FROM range(10) t(x)
          |  GROUP BY x % 2)""".stripMargin).head()
      assert(mrl.getSeq[Row](0).map(p => (p.getLong(0), p.getLong(1))) ==
        (0L until 10L).map((_, 1L)))
      assertArityChecked(s)
    }
  }

  test("registerAll registers exactly the table and checks every arity") {
    val s = graft.SparkFixture.spark.newSession()
    val reg = Bridge.functionRegistry(s)
    def infos = reg.listFunction().map(id => id.funcName -> reg.lookupFunction(id).get).toMap
    val before = infos
    functions.registerAll(s)
    val replaced = infos.collect { case (n, i) if !before.get(n).exists(_ eq i) => n }.toSet
    assert(replaced == names, s"missing: ${names -- replaced}; extra: ${replaced -- names}")
    assert(reg.lookupFunction(FunctionIdentifier("st_envelope_bounds")).isDefined)
    assertArityChecked(s)
  }

  test("every public Column-API method has a table entry of the same arity") {
    val api = functions.getClass.getMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) && m.getReturnType == classOf[Column])
    val byName = table.map(f => f.name -> f).toMap
    for (m <- api) {
      val f = byName.get(m.getName)
      assert(f.isDefined, s"functions.${m.getName} has no SQL table entry")
      assert(f.get.arities.contains(m.getParameterCount),
        s"functions.${m.getName}/${m.getParameterCount} vs table arities ${f.get.arities}")
    }
    // fixed-arity everywhere except the 1-3 argument bloom builder, whose
    // Column method takes all three
    assert(table.filter(_.arities.size != 1).map(_.name) == Seq("bloom_filter_agg"))
    assert(byName("bloom_filter_agg").arities == (1 to 3))
    // both st_transform overloads count 3, (Column, String, String) included
    assert(api.filter(_.getName == "st_transform").map(_.getParameterCount) == Seq(3, 3))
    assert(api.map(_.getName).toSet == names,
      s"table entries without a Column method: ${names -- api.map(_.getName)}")
  }
}
