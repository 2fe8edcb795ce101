package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Star-schema loaders for the driver-generated lake (see TESTDATA.md).
  *
  * All operators consume these instead of raw paths so the same code
  * path serves `file://` test data and an `s3a://` 100 TB lake — only
  * the directory URI changes.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** Layout-aware load: a table directory carrying a
    * [[graft.sources.BucketedLake]] marker reads through a
    * re-registered bucketed table (joins/aggregates on the bucket key
    * skip their exchange — the write-once layout survives into every
    * session); a plain directory or file is a parquet read whose schema
    * comes from one footer on the driver
    * ([[graft.sources.ParquetRead]]), so a load runs no Spark job. The
    * marker probe is one `getFileStatus` per load, the footer read one
    * listing and one footer — nothing at scan time.
    */
  private def load(name: String): DataFrame =
    graft.sources.BucketedLake.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = load("region")
  def nation: DataFrame     = load("nation")
  def customer: DataFrame   = load("customer")
  def supplier: DataFrame   = load("supplier")
  def part: DataFrame       = load("part")
  def orders: DataFrame     = load("orders")
  def lineitem: DataFrame   = load("lineitem")

  /** events.parquet stores `ts` as TIMESTAMP(NANOS), which Spark reads
    * as a microsecond TIMESTAMP. A TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) lake reads as TIMESTAMP_NTZ instead; naive
    * micros ≡ UTC instants under the session's UTC zone, so the cast is
    * value-preserving and restores the TIMESTAMP type the whole
    * operator surface (unix_micros etc.) consumes.
    */
  def events: DataFrame = {
    val raw = load("events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    else raw
  }
  def documents: DataFrame  = load("documents")
  def embeddings: DataFrame = load("embeddings")

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Routed through the typed accessors so schema fixes (events'
    * nanos conversion) apply to generic callers too.
    */
  def byName(name: String): DataFrame = name match {
    case "events" => events
    case other => load(other)
  }
}
