package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job even
  * when it reads a single footer (Spark 4.1's `mergeSchemasInParallel`):
  * ~60 ms per warm load against ~4 ms with the schema given. [[read]]
  * derives the same schema with no job. It picks the file Spark's
  * non-merging inference picks (`ParquetUtils.inferSchema`:
  * `_common_metadata`, else `_metadata`, else the first data file by
  * path among the leaf files), reads that footer as inference does,
  * and converts it with Spark's own `readSchemaFromFooter` and the
  * converter settings inference uses — so the Spark row-metadata
  * schema, `nanosAsLong` and `inferTimestampNTZ` apply exactly as they
  * do there. Partition columns (`cluster=N` directories) are still
  * discovered from the directory names by Spark's file index.
  *
  * Whatever the footer route cannot resolve — a missing path, a glob,
  * no data file, a subdirectory that is not a partition, an unreadable
  * footer — reads through Spark's inference instead, so the same
  * frame or the same error surfaces as there.
  */
object ParquetRead {

  /** `spark.read.parquet(paths: _*)`, with the schema given when the
    * footer route resolves it. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    schemaOf(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema Spark's inference derives for `paths`, or `None` where
    * only inference itself can tell.
    */
  private[graft] def schemaOf(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      inferenceFile(conf, paths).flatMap { case (st, partCols) =>
        val sql = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sql.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
          nanosAsLong = sql.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
        val footer = new Footer(st.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS))
        val s = ParquetFileFormat.readSchemaFromFooter(footer, converter)
        // a data column that is also a partition column takes its type
        // from a given schema but from the directory names under inference
        Option.when(!s.fieldNames.exists(f => partCols(f.toLowerCase)))(s)
      }
    } catch { case NonFatal(_) => None }

  /** The file whose footer inference reads, with the lower-cased
    * partition column names of the layout.
    */
  private def inferenceFile(conf: Configuration,
                            paths: Seq[String]): Option[(FileStatus, Set[String])] = {
    // a glob is left to inference, which expands it
    val walked = paths.map(p =>
      if (p.exists("{}[]*?\\".contains(_))) None else leafFiles(conf, new Path(p)))
    if (walked.contains(None)) None
    else {
      val leaves = walked.flatten.flatten.sortBy(_._1.getPath.toString)
      def named(p: String => Boolean) = leaves.find(f => p(f._1.getPath.getName))
      named(_ == "_common_metadata").orElse(named(_ == "_metadata"))
        .orElse(named(n => n != "_common_metadata" && n != "_metadata"))
        .map(_._1 -> leaves.flatMap(_._2).map(_.takeWhile(_ != '=').toLowerCase).toSet)
    }
  }

  /** The files under `root` that Spark's file index lists as the
    * table's leaves, each with the directory names on its way down;
    * `None` when one of those is not a `k=v` partition, where the index
    * would skip its files. Listed as the index lists them, one
    * `listStatus` per directory: a recursive `listFiles` builds
    * `LocatedFileStatus`es, whose permission lookup forks a process per
    * file on the local file system (3.7 s for 1,000 files, 4-core VM).
    * That lookup is an `ls -ld` in Hadoop's file status, which
    * [[NioRawLocalFileSystem]] leaves as it is: it replaces only the
    * `chmod` and `readlink` processes.
    */
  private def leafFiles(conf: Configuration, root: Path): Option[Seq[(FileStatus, Seq[String])]] = {
    val fs = root.getFileSystem(conf)
    def walk(dir: Path, names: Seq[String]): Seq[(FileStatus, Seq[String])] =
      fs.listStatus(dir).toSeq.filterNot(s => GraftBridge.hiddenPathName(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath, names :+ s.getPath.getName)
                      else Seq(s -> names))
    val found = walk(root, Nil)
    Option.when(found.forall(_._2.forall(_.contains('='))))(found)
  }
}
