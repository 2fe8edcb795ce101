package graft.etl

import graft.Tables

/** Offline bundle export (SURVEY.md §2.1) — the reference's ZIP
  * download (normalized CSV per file + manifest.json,
  * streamlit_app.py:333-349), re-expressed as a distributed directory
  * bundle: one canonical-CSV directory per table plus a JSON manifest,
  * written to any Hadoop URI. (A literal .zip is a single-node
  * construct; at 100 TB the bundle IS the directory tree, and a
  * downstream archiver can zip per-partition files if required.)
  */
object Bundle {

  def write(tables: Tables, names: Seq[String], outDir: String): Unit = {
    names.foreach { n =>
      Normalize.writeCanonicalCsv(
        Normalize.sanitizeHeaders(tables.byName(n)), s"$outDir/$n")
    }
    Manifest.writeJson(Manifest.build(tables, names), s"$outDir/manifest")
  }
}
