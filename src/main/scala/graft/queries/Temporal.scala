package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Date/time derivation and event-time windowing.
  *
  * Mirrors the reference's timestamp pipeline — `from_unixtime` + cast +
  * `date_format('yyyy-MM-dd HH:mm:ss')` (utils/spark_transforming.py:148-149)
  * — with the session timezone pinned to UTC (build.sbt / Verify.session), so
  * wall-clock math matches the naive-timestamp DuckDB oracle exactly.
  * The tumbling-window query is the batch-checkable form of the engine's
  * streaming `window()` aggregation (SURVEY.md §2.10).
  */
object Temporal {

  val queries: Seq[Q] = Seq(
    // F5/F6 + date function family (Q21).
    Q("q21_datetime",
      (s, d) => Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        to_date(col("o_orderdate")).as("odate"),
        date_add(to_date(col("o_orderdate")), 30).as("odate_p30"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
          .as("days_since")),
      Some("""SELECT o_orderkey,
                     CAST(year(o_orderdate) AS INT) AS yr,
                     CAST(month(o_orderdate) AS INT) AS mo,
                     CAST(day(o_orderdate) AS INT) AS dy,
                     strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
                     CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
                     CAST(o_orderdate AS DATE) AS odate,
                     CAST(o_orderdate AS DATE) + 30 AS odate_p30,
                     CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS INT)
                       AS days_since
              FROM orders""")),

    // Q27: tumbling event-time window, batch-checkable (groupBy window(...)).
    // Epoch-aligned 1-hour windows coincide with date_trunc('hour').
    Q("q27_window_time",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(12, 2))).cast("double")
               .as("sum_value"))
        .select(col("window.start").as("ws"), col("n_events"), col("sum_value")),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                       AS sum_value
              FROM events GROUP BY 1"""))
  )
}
