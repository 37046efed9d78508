package graft.pipeline

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.SchemaColumn

/** Reader/writer for the exporter's `.schema` files: headerless quoted CSV
  * of `("COLUMN_NAME","DATA_TYPE")` rows in ordinal order (reference:
  * app/cloud-sql-exporter/main.py:53-58).
  *
  * Schema files are tiny metadata (one line per column), so they are read
  * driver-side through the Hadoop FileSystem API — same as the reference's
  * driver-side blob read (app/csv-cleaner/main.py:35) — preserving row
  * order, which a distributed read would not guarantee. Data files never
  * go through this path.
  */
object SchemaFile {

  /** Minimal RFC-4180-ish line parse: quoted fields, `""` escapes. */
  private[pipeline] def parseLine(line: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a `.schema` file into ordered (name, mysqlType) columns. */
  def read(spark: SparkSession, path: String): Seq[SchemaColumn] =
    readText(spark, path).linesIterator
      .filter(_.nonEmpty)
      .map { l =>
        val fields = parseLine(l)
        SchemaColumn(fields.head, if (fields.size > 1) fields(1) else "")
      }
      .toSeq

  /** Write (name, mysqlType) columns as a `.schema` file (quoted, headerless). */
  def write(spark: SparkSession, path: String, cols: Seq[SchemaColumn]): Unit =
    writeText(spark, path, cols.map(c => s""""${c.name}","${c.mysqlType}"""").mkString("", "\n", "\n"))

  /** Write small text content (e.g. the BQ schema JSON) to any Hadoop FS path. */
  def writeText(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val out = fs(spark, p).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read small text content from any Hadoop FS path. */
  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = fs(spark, p).open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }
}
