package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Cloud SQL MySQL CSV export writes NULL as an unterminated `"N` (escaped
  * `\N`); the reference's cleaner repairs lines one at a time
  * (reference: app/csv-cleaner/main.py:21-27, README.md:3). We reproduce
  * the same transform distributed: `spark.read.text` → per-line rewrite →
  * parse with an explicit schema. No driver-side loops; each partition
  * streams its lines, so the transform scales linearly with input splits.
  */
object DirtyCsv {

  /** Exact per-line repair the reference applies:
    * `'"N,'` → `','` anywhere, and a trailing `',"N'` → `','`
    * (app/csv-cleaner/main.py:25-26 operates on lines that still carry
    * their `\n`; we receive lines without the newline, so the second
    * replace anchors at end-of-line). Known reference corruption case —
    * a legit `"N,` inside quoted data is also rewritten — preserved
    * bug-for-bug for golden parity.
    *
    * Deliberate deviation: on a final line with no trailing newline the
    * reference's literal `,"N\n` replace would NOT fire; our end-anchored
    * replace repairs it anyway (the correct outcome — a trailing NULL on
    * the last row loads as NULL instead of a stray `"N` string).
    */
  def repairLine(line: String): String = {
    val mid = line.replace("\"N,", ",")
    if (mid.endsWith(",\"N")) mid.dropRight(2) else mid
  }

  /** Distributed equivalent of repairLine over a raw text read.
    * Built from codegen'd expressions (no UDF): regexp_replace for the
    * mid-field marker, a second anchored replace for the trailing one.
    */
  def repairColumnExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "\"N,", ","), ",\"N$", ",")

  /** Read a dirty (headerless, quoted, `"N`-null) CSV with an explicit
    * schema: text scan → line repair → from_csv parse → flatten.
    * Empty fields become NULL under the nullable schema, matching the
    * reference's load semantics (headerless + explicit schema,
    * app/bq-importer/main.py:26-28).
    *
    * `multiLine = true` handles quoted fields carrying EMBEDDED NEWLINES
    * (MySQL text columns can export them) — a case the reference's
    * line-streamed cleaner (app/csv-cleaner/main.py:23-27) silently
    * corrupts, since its per-line rewrite cannot see record boundaries.
    * The multiLine path repairs each file as a whole (`wholetext` — the
    * `"N` markers never span a line, so the same replaces apply with a
    * (?m) end-of-line anchor) and parses with Spark's multiLine csv
    * reader. Scale note: multiLine csv is per-file, not per-split
    * (records can cross split boundaries), so throughput is bounded by
    * file count — keep the default line-streamed path unless embedded
    * newlines actually occur, and chunk exports into many files when
    * they do.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
           multiLine: Boolean = false): DataFrame = {
    if (multiLine) {
      val tmp = graft.core.Tmp.dir("graft_dirtycsv")
      spark.read.option("wholetext", "true").text(path)
        .select(
          regexp_replace(regexp_replace(col("value"), "\"N,", ","), "(?m),\"N$", ",")
            .as("value"))
        .write.mode("overwrite").text(tmp)
      spark.read
        .options(CleanCsvOptions ++ Map("multiLine" -> "true", "emptyValue" -> ""))
        .schema(schema)
        .csv(tmp)
    } else {
      val raw = spark.read.text(path)
      val repaired = raw.select(repairColumnExpr(col("value")).as("line"))
      val parsed = repaired.select(
        from_csv(
          col("line"),
          schema,
          Map("nullValue" -> "", "emptyValue" -> "")
        ).as("r")
      )
      parsed.select(schema.fieldNames.map(f => col(s"r.`$f`").as(f)).toIndexedSeq: _*)
    }
  }

  /** Repair a dirty CSV to a clean CSV directory (the cleaner stage's data
    * branch as a distributed file→file transform).
    */
  def repairToCleanCsv(spark: SparkSession, inPath: String, outPath: String): Unit =
    spark.read
      .text(inPath)
      .select(repairColumnExpr(col("value")).as("value"))
      .write
      .mode("overwrite")
      .text(outPath)

  private def writeQuotedLines(df: DataFrame, path: String, nullToken: String): Unit = {
    val fields = df.schema.fieldNames.map { f =>
      val v = col(s"`$f`").cast("string")
      when(v.isNull, lit(nullToken))
        .otherwise(concat(lit("\""), regexp_replace(v, "\"", "\"\""), lit("\"")))
    }
    df.select(concat_ws(",", fields.toIndexedSeq: _*).as("value"))
      .write
      .mode("overwrite")
      .text(path)
  }

  /** Spark csv reader options for the POST-CLEAN format
    * [[writeHeaderless]] writes: headerless, `"`-quoted values with `""`
    * escapes (the wire doubles quotes, never backslash-escapes), and an
    * empty unquoted field as NULL.
    */
  val CleanCsvOptions: Map[String, String] =
    Map("header" -> "false", "quote" -> "\"", "escape" -> "\"", "nullValue" -> "")

  /** Write a DataFrame as headerless quoted CSV in the POST-CLEAN format:
    * values quoted, NULL as an UNQUOTED empty field — exactly what the
    * cleaner's `"N,` → `,` rewrite produces (Spark's csv writer cannot
    * express quoted-values-but-unquoted-nulls, hence the expression path).
    * For the dirty wire format see [[writeDirty]].
    */
  def writeHeaderless(df: DataFrame, path: String): Unit =
    writeQuotedLines(df, path, nullToken = "")

  /** Write the Cloud SQL MySQL DIRTY wire format: every field quoted,
    * `"` doubled inside fields, and NULL encoded as the broken unterminated
    * `"N` marker this module exists to repair (reference: README.md:3,
    * app/csv-cleaner/main.py:21-27). Built from codegen'd expressions so
    * fixture generation scales like any other write.
    */
  def writeDirty(df: DataFrame, path: String): Unit =
    writeQuotedLines(df, path, nullToken = "\"N")
}
