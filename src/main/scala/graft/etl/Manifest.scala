package graft.etl

import com.fasterxml.jackson.core.JsonFactoryBuilder
import graft.Tables
import java.io.{ByteArrayOutputStream, IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion manifest (SURVEY.md §2.1) — the reference's
  * `manifest.json` (session, per-file name/rows/cols,
  * streamlit_app.py:313-327) as a DataFrame you can union across an
  * arbitrary table list and sink as JSON next to the data.
  */
object Manifest {

  def build(tables: Tables, names: Seq[String]): DataFrame =
    names.map { n =>
      val df = tables.byName(n)
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows"),
          lit(df.columns.length.toLong).as("n_cols"))
    }.reduce(_.unionByName(_)).orderBy(col("table_name"))

  /** Session prefix mirroring the reference's `uploads/{ts}_{id8}`
    * (streamlit_app.py:92) — caller supplies the clock/id so plans
    * stay deterministic.
    */
  def sessionPrefix(utcStamp: String, id8: String): String =
    s"uploads/${utcStamp}_$id8"

  def writeJson(manifest: DataFrame, path: String): Unit =
    manifest.coalesce(1).write.mode("overwrite").json(path)

  /** [[writeJson]] for rows already on the driver, with no Spark job:
    * the same JSON lines (fields in the given order, Spark's Jackson
    * encoding, null fields left out) into `path/part-00000.json`, then
    * `_SUCCESS`, replacing whatever `path` held. The part file is
    * written under a `_` name, which readers skip, and renamed into
    * place. Values are `String`, `Long` or `Boolean`.
    */
  def writeJsonLines(conf: Configuration, path: String, rows: Seq[Seq[(String, Any)]]): Unit = {
    val bytes = new ByteArrayOutputStream()
    // the generator Spark's JSON writer uses: a default factory over a
    // UTF-8 writer, one object per line
    val writer = new OutputStreamWriter(bytes, StandardCharsets.UTF_8)
    val gen = new JsonFactoryBuilder().build().createGenerator(writer).setRootValueSeparator(null)
    rows.foreach { fields =>
      gen.writeStartObject()
      fields.foreach {
        case (_, null) =>
        case (k, v: String) => gen.writeStringField(k, v)
        case (k, v: Long) => gen.writeNumberField(k, v)
        case (k, v: Boolean) => gen.writeBooleanField(k, v)
        case (k, v) => throw new IllegalArgumentException(s"$k: unsupported ${v.getClass.getName}")
      }
      gen.writeEndObject()
      gen.writeRaw('\n')
    }
    gen.close()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    val tmp = new Path(dir, "_part-00000.json.tmp")
    val out = fs.create(tmp, false)
    try bytes.writeTo(out) finally out.close()
    if (!fs.rename(tmp, new Path(dir, "part-00000.json")))
      throw new IOException(s"could not rename $tmp into place")
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }
}
