package graft.sources

import java.sql.DriverManager

/** Derby fixtures for [[JdbcCatalogSpec]]: a table shaped like MySQL's
  * INFORMATION_SCHEMA.COLUMNS with the queries that introspect it, and a
  * demo database that requires authentication.
  */
object JdbcFixtures {

  /** Seed a Derby table shaped like MySQL's INFORMATION_SCHEMA.COLUMNS,
    * carrying the REAL MySQL COLUMN_TYPE vocabulary as data — the
    * fixture that lets the live introspect→typemap path
    * ([[JdbcCatalog.introspectColumnsSql]], byte-identical strings) run
    * without a MySQL server: what a real MySQL changes is only which
    * engine ANSWERS the query, not the strings that flow through the type
    * map. Vocabulary covers the
    * SURVEY §1.2 quirk list: ENUM/SET (→STRING both modes), unsigned /
    * zerofill with and without display widths, TINYINT(1), POINT
    * (compat's INT-substring quirk vs correct's STRING), YEAR,
    * DECIMAL (compat FLOAT vs correct NUMERIC), TIMESTAMP (compat
    * STRING — reference behavior — vs correct TIMESTAMP), LONGBLOB.
    */
  def seedMySqlShapeDb(dbDir: String): String = {
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
      if (!existing.contains("MYSQL_INFO_COLUMNS")) {
        st.executeUpdate(
          "CREATE TABLE mysql_info_columns (table_name VARCHAR(64), " +
            "ordinal_position INT, column_name VARCHAR(64), " +
            "data_type VARCHAR(64), column_type VARCHAR(128))")
        val ins =
          conn.prepareStatement("INSERT INTO mysql_info_columns VALUES ('typed_tbl', ?, ?, ?, ?)")
        mySqlFixtureColumns.zipWithIndex.foreach { case ((name, dataType, columnType), i) =>
          ins.setInt(1, i + 1)
          ins.setString(2, name)
          ins.setString(3, dataType)
          ins.setString(4, columnType)
          ins.executeUpdate()
        }
      }
    } finally conn.close()
    s"jdbc:derby:$dbDir"
  }

  /** The fixture vocabulary — (name, DATA_TYPE, COLUMN_TYPE), byte-for-
    * byte what MySQL 5.7/8.0 emit in INFORMATION_SCHEMA.COLUMNS: the
    * bare-keyword DATA_TYPE (what the REFERENCE introspects,
    * app/cloud-sql-exporter/main.py:53) and the full COLUMN_TYPE with
    * display widths / modifiers / value lists (what the corrected map
    * consumes for modifier handling).
    *
    * The `state` row is the adversarial case: an enum
    * whose VALUE LIST carries 'int'/'date' substrings. The reference
    * never sees the value list (DATA_TYPE = 'enum' → STRING); routing
    * COLUMN_TYPE through the compat substring map instead would match
    * the DATE substring inside 'updated' and mis-map the column — the
    * divergence JdbcCatalogSpec pins from both sides.
    */
  val mySqlFixtureColumns: Seq[(String, String, String)] = Seq(
    ("id", "bigint", "bigint(20) unsigned"),
    ("qty", "int", "int unsigned"), // MySQL 8: no display width
    ("pad", "smallint", "smallint(5) unsigned zerofill"),
    ("flag", "tinyint", "tinyint(1)"),
    ("status", "enum", "enum('new','sent','failed')"),
    ("tags", "set", "set('a','b','c')"),
    ("loc", "point", "point"),
    ("price", "decimal", "decimal(10,2)"),
    ("ratio", "double", "double"),
    ("body", "mediumtext", "mediumtext"),
    ("created", "datetime", "datetime"),
    ("updated", "timestamp", "timestamp"),
    ("day", "date", "date"),
    ("yr", "year", "year(4)"),
    ("payload", "longblob", "longblob"),
    ("state", "enum", "enum('printed','updated')"))

  /** The REFERENCE'S introspection projection (COLUMN_NAME, DATA_TYPE —
    * main.py:53), retargeted at the fixture: the bare type keyword is
    * what flows into the compat substring map for bug-for-bug fidelity.
    * (An ordinal column is added so [[JdbcCatalog.introspectColumnsSql]] can
    * re-impose order driver-side; the reference's single-cursor CSV
    * export gets that from ORDER BY alone.)
    */
  def mySqlColumnsQuery(table: String): String =
    "SELECT ordinal_position, column_name, data_type FROM mysql_info_columns " +
      s"WHERE table_name = '$table' ORDER BY ordinal_position"

  /** Full-COLUMN_TYPE introspection — the richer string the CORRECTED
    * type map consumes (modifiers like `unsigned`/`zerofill` change the
    * value range, and the corrected map strips them; the compat map must
    * never see them — see [[mySqlColumnsQuery]]).
    */
  def mySqlColumnsQueryFull(table: String): String =
    "SELECT ordinal_position, column_name, column_type FROM mysql_info_columns " +
      s"WHERE table_name = '$table' ORDER BY ordinal_position"

  /** [[JdbcCatalog.seedDemoDb]] plus Derby BUILTIN authentication: after this returns,
    * the database REQUIRES the given user/password and the returned URL
    * contains neither — resolve them through a [[CredentialSource]] and
    * pass [[JdbcAuth]] (the reference's secret-manager-at-connect shape).
    */
  def seedSecureDb(dbDir: String, user: String, password: Secret): String = {
    val url = JdbcCatalog.seedDemoDb(dbDir)
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(?, ?)")
      def set(k: String, v: String): Unit = {
        ps.setString(1, k); ps.setString(2, v); ps.execute()
      }
      set("derby.authentication.provider", "BUILTIN")
      set(s"derby.user.$user", password.reveal)
      set("derby.connection.requireAuthentication", "true")
      ps.close()
    } finally conn.close()
    // requireAuthentication takes effect at the next database BOOT —
    // shut it down now; Derby signals successful shutdown via SQLException
    // (SQLState 08006), so swallow exactly that.
    try {
      DriverManager.getConnection(s"$url;shutdown=true")
      ()
    } catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    url
  }
}
