package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.types._

/** Schema'd table loaders.
  *
  * Mirrors the reference's extract layer (S3 CSV → warehouse): the
  * reference loads `event.csv` / `item.csv` with astro-sdk `load_file`
  * (reference: astro-sdk-tutorial/dags/etl_s3_snowflake_raw_event_ingest.py:30,
  * etl_s3_snowflake_d_item.py:20). Here the same surface is a schema'd
  * `spark.read` — parquet for the driver testdata, CSV with an explicit
  * schema for raw drops. Every read states its schema up front: CSV
  * drops carry a declared one (never `inferSchema`, so a 100 TB ingest
  * does not pay a sampling pass and cannot drift types), and parquet
  * tables pass the schema of their own footer ([[read]]).
  */
object Tables {

  /** `spark.read.parquet(path)` without its schema-inference job.
    * Inference launches a one-task Spark job that opens one data file's
    * footer — the first by path among the root's files, or within the
    * `k=v` partition directories. This reads that same footer on the
    * driver and hands the schema to the reader; partition columns are
    * still discovered from the directory names, so the frame's schema
    * is the inferred one. A path with no data file there (missing,
    * empty, or holding parquet summary files) is read the inferring
    * way, with its own errors.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = SwapRecovery.fsOf(spark, path)
    // the first file in full-path order: a directory's files sort as
    // if its name ended in "/", so this walk meets them in that order
    def firstFile(children: Array[FileStatus]): Option[FileStatus] =
      children
        .filter(st => GraftParquet.listed(st.getPath.getName) &&
          (st.isDirectory && st.getPath.getName.contains("=") ||
            st.isFile && !GraftParquet.summary(st.getPath.getName)))
        .sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
        .iterator
        .flatMap(st =>
          if (st.isFile) Some(st) else firstFile(fs.listStatus(st.getPath)))
        .nextOption()
    val first = scala.util.Try(fs.getFileStatus(root)).toOption.flatMap { st =>
      if (st.isFile) Some(st)
      else {
        val children = fs.listStatus(root)
        if (children.exists(c => GraftParquet.summary(c.getPath.getName))) None
        else firstFile(children)
      }
    }
    first match {
      case Some(f) =>
        spark.read.schema(GraftParquet.footerSchema(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The events table carries TIMESTAMP(NANOS) parquet, which Spark's
    * TimestampType (µs) cannot represent natively — a
    * [[graft.GraftSession]] session reads the raw nanos as LONG
    * (`spark.sql.legacy.parquet.nanosAsLong`), converted here to a µs
    * timestamp column inline.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) loads as NTZ;
        // the session timezone is pinned UTC in every entrypoint, so the
        // cast to TimestampType is a pure reinterpretation (bit-identical
        // micros) — and it restores watermark/unix_micros compatibility
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a timestamp column (re-written drops)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Raw event CSV schema — reference event.csv header:
    * event_id,event_time,user_id,event_payload (JSON string payload).
    */
  val eventCsvSchema: StructType = StructType(Seq(
    StructField("event_id", StringType, nullable = false),
    StructField("event_time", StringType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_payload", StringType, nullable = false)
  ))

  /** Raw item CSV schema — reference item.csv header:
    * adjective,category,created_at,id,modifier,name,price.
    */
  val itemCsvSchema: StructType = StructType(Seq(
    StructField("adjective", StringType, nullable = true),
    StructField("category", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("id", DoubleType, nullable = false),
    StructField("modifier", StringType, nullable = true),
    StructField("name", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false)
  ))

  /** CSV ingest with an explicit schema (header row, quoted JSON fields). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(schema)
      .csv(path)
}
