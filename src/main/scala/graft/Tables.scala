package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * All operators take an `sfDir` and read parquet lazily so Catalyst can
  * push filters/projections into the scan; nothing is cached here —
  * callers decide materialisation.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaOf(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The parquet schema conversions an inferred schema depends on. */
  private val SchemaConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The schema a plain read of `path` infers, memoised: inference runs a
    * Spark job over the parquet footers on every read. The key is the
    * qualified path with the name, length and modification time of each
    * file at or directly under it (a rewritten table is inferred again),
    * plus the session's schema-conversion confs. None when the path
    * cannot be listed; the plain read then reports why. */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = try fs.listStatus(p) catch { case _: java.io.IOException => return None }
    val stamp = files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
    val key = s"${fs.makeQualified(p)}|$stamp|$confs"
    Option(schemas.get(key)).orElse {
      val inferred = spark.read.parquet(path).schema
      schemas.put(key, inferred)
      Some(inferred)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Events reader tolerant of both testdata vintages: TIMESTAMP(NANOS)
    * files (read as raw nano longs, floored to µs) and µs-timestamp
    * files (isAdjustedToUTC=false → TIMESTAMP_NTZ, cast to TIMESTAMP —
    * instant-preserving because every entry point pins the session TZ
    * to UTC). The driver regenerated the tables with µs annotations in
    * round 5; the nano leg stays for older fixtures and the C3 source
    * component. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEvents(rawEvents(s, d))

  /** Raw events read: nano-era files surface ts as a nano-epoch long
    * (the conf is a no-op for µs files, which arrive TIMESTAMP_NTZ). */
  def rawEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(s, d, "events")
  }

  /** ts → microsecond TIMESTAMP whatever the on-disk flavor; shared by
    * batch and readStream paths (type dispatch is on the STATIC schema,
    * so it composes with streaming frames too). */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // exact integral FLOOR division: `/` on longs is a double Divide
        // and nano-epoch longs (~1.7e18) exceed double's 2^53 exact
        // range, while `div` alone truncates toward zero — wrong by 1 µs
        // for pre-epoch (negative) nanos. The parity target is DuckDB's
        // TIMESTAMP_NS → TIMESTAMP cast, which FLOORS (note: DuckDB's
        // integer `//` does NOT — it truncates toward zero; don't use it
        // in oracles on raw nano longs).
        raw.withColumn("ts", timestamp_micros(
          expr("CASE WHEN ts >= 0 THEN ts div 1000 ELSE ((ts + 1) div 1000) - 1 END")))
      case TimestampNTZType =>
        // µs wall-clock with no zone: DuckDB reads these as plain
        // TIMESTAMP; under the pinned UTC session the cast yields the
        // identical instants, so oracle parity is exact
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalArgumentException(s"unexpected events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
  /** The (vec_id, embedding) columns of `embeddings` read with their
    * generated types (BIGINT, FLOAT[]). A given schema skips the Spark
    * job a plain read runs to infer it from the parquet footer. */
  def embeddingVectors(s: SparkSession, d: String): DataFrame =
    s.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(s"$d/embeddings.parquet")
}
