package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Parquet

/** Typed loaders for the driver-generated star schema.
  *
  * Scale notes: every loader is a plain parquet scan so Catalyst can push
  * filters and prune columns into the scan (verify via `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`). On a real cluster these would
  * be partitioned/bucketed tables; at 100 TB the fact tables (`lineitem`,
  * `orders`, `events`) shuffle on their join/agg keys and the dimension
  * tables (`region`, `nation`, `supplier`, `part`, `customer`) stay
  * broadcast-able. Every loader reads through [[graft.ops.Parquet]], so
  * building a table's frame runs no schema-inference job.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The parsed job-log table. The contract every batch operator codes
    * against is `ts_us: BIGINT` (epoch µs ≡ DuckDB `epoch_us(ts)` on
    * the same file); the physical `ts` encoding has CHANGED under us
    * across driver testdata generations, so this reader handles both:
    *
    *  - TIMESTAMP µs (current data): plain schema inference works; `ts`
    *    arrives as TimestampType/TimestampNTZType and `ts_us` is
    *    `unix_micros` (sessions run in UTC, so NTZ→TZ is identity);
    *  - TIMESTAMP(NANOS) (earlier generations): the footer's schema
    *    conversion REJECTS the file ([PARQUET_TYPE_ILLEGAL], thrown on
    *    the driver by [[graft.ops.Parquet.read]]), so on that failure we
    *    re-read with an explicit `ts BIGINT` schema — the vectorized reader
    *    decodes the raw INT64 ns — and truncate `ts div 1000`,
    *    bit-identical to DuckDB's ns→µs truncation. Reader-scoped, no
    *    session conf (`nanosAsLong` is not honored by 4.1 inference;
    *    the legacy session flag leaked into every reader).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    try {
      val df = Parquet.read(spark, path)
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts_us", expr("ts div 1000"))
        case _ =>
          df.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      }
    } catch {
      // ONLY the nanos-rejection condition routes to the fallback: a
      // broad Analysis* guard would also swallow missing-path /
      // missing-column / corrupt-footer errors and mask them with a
      // confusing secondary failure from the hardcoded nanos schema
      case e: Exception
          if String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL") =>
        spark.read
          .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING")
          .parquet(path)
          .withColumn("ts_us", expr("ts div 1000"))
    }
  }

  /** All table names this schema ships. */
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so the whole surface is
    * reachable from plain `spark.sql(...)` — together with
    * `spark.sql.extensions=graft.plans.GraftExtensions` this gives a
    * SQL-only user the full engine (tables + native functions) with no
    * Scala API calls. `events` registers with the derived `ts_us`
    * column (the ns-safe time handle every query should use). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    Names.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n => table(spark, dir, n).createOrReplaceTempView(n)
    }
}
