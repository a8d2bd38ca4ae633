package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: min-of-2 noop-sink timing of ONE catalog query (the same
  * methodology as Bench, without the 110-query sweep). Usage:
  * `runMain graft.BenchOne <query_name> <sfDir>`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Arbitrary session confs, "k=v;k=v" (e.g. the dedup scale knobs:
    // spark.graft.dedup.hyperplaneBits / maxBucketSize sweeps, or
    // spark.sql.streaming.stateStore.providerClass for a state-store A/B).
    sys.env.get("GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    spark.read.parquet(args(1) + "/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val fn = SparkEntry.queries(args(0))
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, args(1)).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"BENCHONE ${args(0)} min=${times.min}%.2f runs=${times.mkString(",")}")
    spark.stop()
  }
}
