package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Every scalar kernel compiles inside whole-stage codegen, twice in one
  * projection, with the interpreted fallback switched off: a kernel whose
  * generated code does not compile fails here instead of silently running
  * interpreted. The two calls read distinct non-nullable twin columns, so
  * neither subexpression elimination nor a null-check block separates the
  * two generated bodies — both land in one method scope.
  */
class KernelCodegenSpec extends graft.SparkSpec with AdaptiveSparkPlanHelper {
  import KernelContract.{calls, checkedLate, wrongTyped}

  private lazy val fx = { GraftFunctions.register(spark); new KernelFixture(spark) }

  private def noFallback[A](body: => A): A = {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  for (c <- calls) test(s"$c compiles twice in one whole-stage codegen stage") {
    noFallback {
      val df = fx.df.selectExpr(c.sql(identity), c.sql(_ + "2"))
      val got = df.collect().head
      val plan = df.queryExecution.executedPlan
      assert(find(plan) {
        case w: WholeStageCodegenExec => w.exists(_.isInstanceOf[ProjectExec])
        case _ => false
      }.isDefined, plan)
      val want = CatalystTypeConverters.convertToScala(c.direct(fx),
        df.schema.head.dataType)
      assert(got.get(0) === want)
      assert(got.get(1) === want)
    }
  }

  // one checkInputDataTypes now covers the codebook kernels too: a
  // wrong-typed call no longer reaches the kernel as a ClassCastException
  test("the codebook kernels reject a wrong-typed call at analysis") {
    for (c <- calls if checkedLate(c.name)) {
      val e = intercept[AnalysisException](
        fx.df.selectExpr(wrongTyped(c).sql(identity)).collect())
      assert(e.getMessage.contains(c.name), c.toString)
    }
  }
}
