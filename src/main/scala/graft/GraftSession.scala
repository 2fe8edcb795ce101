package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Tuned session factory — every graft entry point runs through this.
  *
  * Local defaults mirror what a 1000-executor deployment would set
  * per-cluster: AQE on (runtime re-plan, skew-join, partition
  * coalescing), UTC session time, shuffle partitions sized to the
  * actual parallelism instead of Spark's default 200.
  *
  * `file://` resolves to graft's own local filesystem classes
  * ([[graft.sources.NioLocalFileSystem]], [[graft.sources.NioLocalFs]])
  * for both the `FileSystem` and the `FileContext` face. Without
  * libhadoop, Hadoop's local filesystem starts a `chmod` process for
  * every file, `.crc` file and directory it creates, and a `readlink`
  * process for each side of a checkpoint rename; these classes do both
  * in-process, with the same modes, checksums and rename rules. The
  * JVM-wide `FileSystem` cache ignores the conf, so a `file` filesystem
  * cached before the first `get` (by a plain `FileSystem.get`) keeps
  * the stock class, which is only slower.
  */
object GraftSession {
  /** Local parallelism: `SPARK_GRAFT_CPUS` when set, else the machine's
    * cores capped at 32. A value that is not a positive integer throws
    * rather than silently falling back to the core count.
    */
  def cores: Int = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def coresFrom(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors().min(32)
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def get(appName: String = "graft"): SparkSession = {
    val n = cores
    val spark = SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .appName(appName)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // micros-lake variant: naive parquet timestamps read as TIMESTAMP
      // (session is UTC, so instants are identical) — keeps filter
      // pushdown on date columns instead of a plan-side NTZ cast
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
