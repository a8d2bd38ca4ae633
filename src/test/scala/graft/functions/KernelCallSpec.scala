package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.queries.Catalog
import graft.sources.Tables

/** The library's one way to a kernel: [[GraftFunctions.call]] builds the
  * same expression the SQL surface resolves, and library operators built
  * on it never write into a session's function registry.
  */
class KernelCallSpec extends graft.SparkSpec {
  import KernelContract.calls

  private lazy val fx = new KernelFixture(spark)

  /** A KernelContract argument list as Columns: `@x` a fixture column,
    * digits an int literal.
    */
  private def columns(args: String): Seq[Column] =
    args.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { a =>
      if (a.startsWith("@")) col(a.tail) else lit(a.toInt)
    }

  /** Every registered name with a KernelContract-style argument list:
    * the scalar rows of the contract table plus the aggregates and
    * generators.
    */
  private val spellings: Seq[(String, String)] =
    calls.map(c => (c.name, c.args)) ++ Seq(
      ("graft_kmv", "@s"),
      ("graft_centroids", "@i, @vd, 3"),
      ("graft_token_windows", "@s, 3, 2"),
      ("graft_char_grams", "@s, 3"))

  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#")

  test("call gives the SQL spelling's optimized plan and values for every function") {
    assert(spellings.map(_._1).toSet === GraftFunctions.fns.map(_._1).toSet)
    for ((name, args) <- spellings) {
      val sql = s"$name(${args.replace("@", "")})"
      val bySql = fx.df.selectExpr(sql)
      val byCall = fx.df.select(GraftFunctions.call(name, columns(args): _*))
      assert(plan(byCall) === plan(bySql), sql)
      assert(byCall.collect().toSeq === bySql.collect().toSeq, sql)
    }
  }

  test("an unknown name and a wrong arity fail at the call site, naming the function") {
    val unknown = intercept[AnalysisException](GraftFunctions.call("graft_nope", col("s")))
    assert(unknown.getMessage.contains("graft_nope"))
    val arity = intercept[AnalysisException](GraftFunctions.call("graft_poly_hash"))
    assert(arity.getMessage.contains("graft_poly_hash expects 1 argument(s), got 0"))
    val lsh = intercept[AnalysisException](
      GraftFunctions.call("graft_lsh_bucket", col("vf"), lit(8), lit(1)))
    assert(lsh.getMessage.contains("graft_lsh_bucket expects 1 to 2 arguments, got 3"))
  }

  test("library operators on a fresh session leave its function registry alone") {
    val d = "perfbench/data/sf0.01"
    val fresh = spark.newSession()
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def same(name: String)(op: SparkSession => DataFrame) =
      assert(rows(op(fresh)) === rows(op(spark)), name)
    def query(name: String) = same(name)(Catalog.byName(name).run(_, d))
    query("q68_deterministic_sample")
    same("minhash")(s => Dedup.minhash(Tables.documents(s, d)))
    same("kmeansAssign")(s => Similarity.kmeansAssign(Tables.embeddings(s, d)))
    query("t22_bpe_train")
    query("s15_stream_kmv")
    query("p03_training_pipeline")
    for ((name, _) <- GraftFunctions.fns)
      assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)),
        s"$name was registered into the fresh session")
  }

  test("library code calls kernels only through call") {
    // The second resolution path (SQL text -> registry -> builder) must not
    // grow back: register is the SQL-user surface, defined and called in
    // GraftExpressions.scala only; no expr/selectExpr string names a
    // graft_ function, nor does any string literal spell a kernel call.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.size > 30)
    val sqlCall =
      raw"""\b(?:expr|selectExpr)\((?:\s|s?"\"\"[\s\S]*?"\"\"|s?"(?:[^"\\\n]|\\.)*"|\+)*""".r
    val spelledCall = raw"""s?"[^"\n]*\b(graft_\w+)\(""".r
    val names = GraftFunctions.fns.map(_._1).toSet
    val offenders = sources.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      def line(at: Int) = s"$p:${text.take(at).count(_ == '\n') + 1}"
      val registers =
        if (p.endsWith("GraftExpressions.scala")) Nil
        else raw"GraftFunctions\.register\(".r.findAllMatchIn(text).map(m => line(m.start))
          .toList
      val sqlStrings = sqlCall.findAllMatchIn(text)
        .filter(_.matched.contains("graft_")).map(m => line(m.start)).toList
      val spelled = spelledCall.findAllMatchIn(text)
        .filter(m => names(m.group(1))).map(m => line(m.start)).toList
      registers ++ sqlStrings ++ spelled
    }
    if (offenders.nonEmpty) fail(offenders.distinct.mkString("\n"))
  }

  test("TextHash holds one byte-slice hash table") {
    // The slice-table policy (hash seed, probe, empty-slot marker, growth)
    // lives in one class; a second seed or linear-probe step means a
    // kernel grew its own copy again.
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/functions/TextHash.scala"))
    val seeds = "1125899906842597L".r.findAllMatchIn(text).size
    val probes = raw"\(\s*slot\s*\+\s*1\s*\)".r.findAllMatchIn(text).size
    assert(seeds === 1, "copies of the slice-hash seed")
    assert(probes === 1, "copies of the linear-probe step")
  }
}
