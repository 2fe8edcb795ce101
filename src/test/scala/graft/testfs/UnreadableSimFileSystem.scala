package graft.testfs

import java.net.URI
import org.apache.hadoop.fs.{ContentSummary, Path, RawLocalFileSystem}

/** Local disk registered as `unreadsim://`, where any file named
  * `unreadable*` lists normally but fails `getContentSummary` with an
  * `AccessDeniedException` — a path the listing can see and the size
  * check cannot read, as on a store with list-only permissions.
  */
class UnreadableSimFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "unreadsim"
  override def getUri: URI = UnreadableSimFileSystem.SchemeUri

  override def getContentSummary(f: Path): ContentSummary =
    if (f.getName.startsWith("unreadable")) throw new java.nio.file.AccessDeniedException(f.toString)
    else super.getContentSummary(f)
}

object UnreadableSimFileSystem {
  private[testfs] val SchemeUri = URI.create("unreadsim:///")

  /** Register the shim on the shared session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.unreadsim.impl", classOf[UnreadableSimFileSystem].getName)
}
