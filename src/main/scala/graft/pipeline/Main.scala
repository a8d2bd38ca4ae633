package graft.pipeline

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's five pipeline stages (the Airflow DAG's
  * python3 calls, airflow/dags/dag.py:48-81) as subcommands of one binary —
  * orchestration containers (Airflow/Kafka/ES/MinIO) are out of engine scope
  * (SURVEY.md §7.1).
  *
  * {{{
  * runMain graft.pipeline.Main etl      <roomsDir> <outParquet> [--faithful]
  * runMain graft.pipeline.Main replay   <parquet>  <topicDir> [rowsPerFile] [epochs]
  * runMain graft.pipeline.Main stream   <topicDir> <outParquet> <checkpoint>
  * runMain graft.pipeline.Main stream-es <topicDir> <outDir>    <checkpoint>
  * }}}
  */
object Main {
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    try args.toList match {
      case "etl" :: rooms :: out :: rest =>
        BatchEtl.run(spark, rooms, out, faithful = rest.contains("--faithful"))
        println(s"[etl] wrote ${spark.read.parquet(out).count()} rows to $out")

      case "replay" :: parquet :: topic :: rest =>
        val rows   = rest.headOption.map(_.toInt).getOrElse(1000)
        val epochs = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
        Replay.epochs(spark.read.parquet(parquet), OfficeSchema.office,
          topic, epochs, rows)
        println(s"[replay] $epochs epoch(s) to $topic")

      case "stream" :: topic :: out :: ckpt :: Nil =>
        val q = StreamJobs.toParquet(
          StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)),
          out, ckpt)
        q.awaitTermination()
        println(s"[stream] sank ${spark.read.parquet(out).count()} rows to $out")

      case "stream-es" :: topic :: out :: ckpt :: Nil =>
        val q = StreamJobs.toEsShaped(
          StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)),
          out, ckpt, mapping = OfficeSchema.esMapping.toMap)
        q.awaitTermination()
        println(s"[stream-es] documents written under $out")

      // The ANN index lifecycle as separable CLI jobs (p10/p11's contract:
      // the trainer's output is a table, the server is a reader).
      //   index-train <embeddingsParquet> <indexDir>   — train at the
      //     declared Serve config, write the four artifact relations
      //   index-serve <indexDir>                       — fresh-session
      //     load + the x25 rerank serve, printed
      case "index-train" :: emb :: idx :: Nil =>
        import graft.ext.Similarity
        val serve = Similarity.Serve
        val (a1, cv1, resid, cbAll) = Similarity.ivfPqIndex(
          spark.read.parquet(emb), serve.K1Default, serve.M, serve.SubDim,
          serve.Kcode, serve.Iters, serve.Pp)
        a1.write.mode("overwrite").parquet(s"$idx/a1")
        cv1.write.mode("overwrite").parquet(s"$idx/cv1")
        resid.write.mode("overwrite").parquet(s"$idx/resid")
        cbAll.write.mode("overwrite").parquet(s"$idx/codebooks")
        println(s"[index-train] ${spark.read.parquet(s"$idx/a1").count()} " +
          s"vectors indexed under $idx")

      case "index-serve" :: idx :: Nil =>
        import graft.ext.Similarity
        val fresh = spark.newSession()
        def ld(n: String) = fresh.read.parquet(s"$idx/$n")
        Similarity.ivfPqServeRerank(
          (ld("a1"), ld("cv1"), ld("resid"), ld("codebooks")))
          .show(truncate = false)

      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println(
          "commands: etl | replay | stream | stream-es | index-train | index-serve")
        sys.exit(2)
    } finally spark.stop()
  }
}
