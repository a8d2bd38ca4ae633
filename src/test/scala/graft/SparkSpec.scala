package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — UTC-pinned and nanos-tolerant like
  * Verify.session, so tests see the same semantics the gate does.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: 4 threads, maxFailures=2 — lets fault-injection specs
      // kill a task attempt for real and observe the retry path (a spec
      // with no injected failures behaves identically to local[4]).
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      // a generated-code compile failure fails the spec that caused it,
      // instead of being logged and run interpreted (as Spark's own suites)
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // specs that write graft_* calls as SQL text take the SQL-user path:
    // one registration for the shared session (library code never needs it)
    graft.functions.GraftFunctions.register(s)
    s
  }
}
