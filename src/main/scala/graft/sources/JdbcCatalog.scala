package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SchemaColumn

/** JDBC catalog operators — the reference's stage-1/2 database surface
  * (SURVEY.md §2.1 rows 1-3) against a real JDBC database:
  *
  *   - table discovery: the configurable metadata query over the system
  *     catalog (reference: app/cloud-sql-query-runner/main.py:37-57,
  *     query text variables.tf:72-75)
  *   - column introspection in ordinal order
  *     (app/cloud-sql-exporter/main.py:53-55)
  *   - full-table scan via Spark's JDBC source
  *     (app/cloud-sql-exporter/main.py:65, export_table.py:5-34)
  *
  * No MySQL exists in this environment; Apache Derby (embedded, ships with
  * Spark) stands in. Discovery/scan go through `spark.read.format("jdbc")`
  * — the engine-side plan is identical for any JDBC URL; swapping in
  * `jdbc:mysql://...` changes only the URL and catalog query text. Column
  * introspection uses driver-side `DatabaseMetaData` (bytes of metadata
  * per table, exactly like the reference's driver-side schema query).
  *
  * Scale note: `fullTableScan` accepts partitioning bounds so the data
  * read fans out over `numPartitions` concurrent JDBC cursors — the knob
  * that matters when the source table is large.
  */
object JdbcCatalog {

  /** Credentials reach the driver as CONNECTION OPTIONS, never spliced
    * into the URL — the URL stays loggable and plan-printable. `auth`
    * holds the values resolved through a [[CredentialSource]] at call
    * time (reference: get_secret at connect, main.py:23-33).
    */
  private def withAuth(
      r: org.apache.spark.sql.DataFrameReader,
      auth: Option[JdbcAuth]): org.apache.spark.sql.DataFrameReader =
    auth.fold(r)(a => r.option("user", a.user).option("password", a.password.reveal))

  private def connect(url: String, auth: Option[JdbcAuth]): java.sql.Connection =
    auth.fold(DriverManager.getConnection(url))(a =>
      DriverManager.getConnection(url, a.user, a.password.reveal))

  /** Run an arbitrary catalog/discovery SQL through the Spark JDBC source
    * (whole-query pushdown — the query executes inside the database, as in
    * the reference where MySQL runs the discovery SELECT).
    */
  def queryJdbc(spark: SparkSession, url: String, query: String, auth: Option[JdbcAuth] = None): DataFrame =
    withAuth(
      spark.read
        .format("jdbc")
        .option("url", url)
        .option("query", query),
      auth).load()

  /** The canonical discovery query shape (README.md:27) against Derby's
    * system catalog: user tables whose name matches LIKE/IN predicates.
    */
  def discoverTables(
      spark: SparkSession,
      url: String,
      likePattern: String,
      inList: Seq[String],
      auth: Option[JdbcAuth] = None): DataFrame = {
    val inSql = inList.map(s => s"'$s'").mkString(", ")
    queryJdbc(
      spark,
      url,
      "SELECT LOWER(t.TABLENAME) AS table_name FROM SYS.SYSTABLES t " +
        s"WHERE t.TABLETYPE = 'T' AND (LOWER(t.TABLENAME) LIKE '$likePattern' " +
        s"OR LOWER(t.TABLENAME) IN ($inSql))",
      auth)
      .toDF("table_name") // Derby uppercases the projected alias
  }

  /** Ordinal-ordered (name, declared type) columns of a table — the
    * `.schema` export feed. Driver-side JDBC metadata (not row data).
    */
  def introspectColumns(url: String, table: String, auth: Option[JdbcAuth] = None): Seq[SchemaColumn] = {
    val conn = connect(url, auth)
    try {
      val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, null)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, SchemaColumn)]
      while (rs.next()) {
        buf += ((rs.getInt("ORDINAL_POSITION"),
          SchemaColumn(rs.getString("COLUMN_NAME").toLowerCase, rs.getString("TYPE_NAME").toLowerCase)))
      }
      buf.sortBy(_._1).map(_._2).toSeq
    } finally conn.close()
  }

  /** MySQL-shape column introspection: the reference reads
    * INFORMATION_SCHEMA.COLUMNS via SQL in ordinal order
    * (app/cloud-sql-exporter/main.py:53-55) — a
    * (COLUMN_NAME, DATA_TYPE) QUERY, not JDBC DatabaseMetaData — so
    * the introspection contract this engine must honor is "run that
    * query, feed the type strings through the type map". This entry
    * point runs the exact query shape through the same JDBC source as
    * discovery; the result's MySQL type vocabulary (ENUM / SET /
    * unsigned / POINT / TINYINT(1)) then flows through
    * [[graft.core.SchemaColumn]] → TypeMapping like any introspected
    * column. `columnsQuery` must project (ordinal, column_name,
    * type-string); ordering is re-imposed driver-side so a multi-cursor
    * read can't scramble ordinals. The ordinal is read as a generic
    * Number: against real MySQL, ORDINAL_POSITION is BIGINT UNSIGNED
    * (Spark JDBC widens it to DecimalType(20,0)), so a plain getInt
    * would ClassCastException outside the Derby fixture.
    */
  def introspectColumnsSql(
      spark: SparkSession,
      url: String,
      columnsQuery: String,
      auth: Option[JdbcAuth] = None): Seq[SchemaColumn] =
    queryJdbc(spark, url, columnsQuery, auth)
      .collect()
      .map(r => (r.getAs[Number](0).intValue, SchemaColumn(r.getString(1).toLowerCase, r.getString(2).toLowerCase)))
      .sortBy(_._1)
      .map(_._2)
      .toSeq

  /** Full-table scan; with bounds, fans out over numPartitions parallel
    * JDBC cursors (`partitionColumn` range splits).
    */
  def fullTableScan(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      auth: Option[JdbcAuth] = None): DataFrame = {
    val base = withAuth(
      spark.read
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table),
      auth)
    partitionColumn
      .fold(base) { case (c, lo, hi, n) =>
        base
          .option("partitionColumn", c)
          .option("lowerBound", lo)
          .option("upperBound", hi)
          .option("numPartitions", n)
      }
      .load()
  }

  /** Build a deterministic embedded Derby database mimicking the
    * reference's MySQL layout (users + user__field_* tables), for the
    * registered discovery/scan queries and tests.
    */
  def seedDemoDb(dbDir: String): String = {
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      val existing = {
        val rs = conn.getMetaData.getTables(null, "APP", null, Array("TABLE"))
        val b = scala.collection.mutable.Set.empty[String]
        while (rs.next()) b += rs.getString("TABLE_NAME")
        b
      }
      def ensure(ddl: String, name: String): Unit =
        if (!existing.contains(name.toUpperCase)) st.executeUpdate(ddl)
      ensure(
        "CREATE TABLE users (id BIGINT, name VARCHAR(32), balance DOUBLE, created_at TIMESTAMP)",
        "users")
      ensure("CREATE TABLE user__field_a (id BIGINT, v VARCHAR(8))", "user__field_a")
      ensure("CREATE TABLE user__field_b (id BIGINT, v VARCHAR(8))", "user__field_b")
      ensure("CREATE TABLE orders_x (id BIGINT)", "orders_x")
      val cnt = st.executeQuery("SELECT COUNT(*) AS c FROM users")
      cnt.next()
      if (cnt.getInt("c") == 0) {
        val ins = conn.prepareStatement("INSERT INTO users VALUES (?, ?, ?, ?)")
        for (i <- 1 to 50) {
          ins.setLong(1, i.toLong)
          ins.setString(2, s"user_$i")
          ins.setDouble(3, i * 1.5)
          ins.setTimestamp(4, java.sql.Timestamp.valueOf(f"2024-01-${(i % 28) + 1}%02d 00:00:00"))
          ins.executeUpdate()
        }
      }
    } finally conn.close()
    s"jdbc:derby:$dbDir"
  }
}
