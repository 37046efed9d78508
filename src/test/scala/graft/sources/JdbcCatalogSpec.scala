package graft.sources

import graft.SparkSpec
import graft.core.{SchemaColumn, SchemaDoc, TypeMapping}

/** Embedded-Derby JDBC catalog tests: discovery predicate semantics,
  * ordinal introspection, partitioned scan parity, and the introspected
  * schema feeding the type-map pipeline.
  */
class JdbcCatalogSpec extends SparkSpec {

  private lazy val url =
    JdbcCatalog.seedDemoDb(java.nio.file.Files.createTempDirectory("derby").toString + "/db")

  test("discovery matches LIKE/IN predicate, excludes others") {
    val names = JdbcCatalog
      .discoverTables(spark, url, "user__field%", Seq("users"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("user__field_a", "user__field_b", "users"))
  }

  test("introspection returns ordinal-ordered typed columns") {
    val cols = JdbcCatalog.introspectColumns(url, "users")
    assert(cols == Seq(
      SchemaColumn("id", "bigint"),
      SchemaColumn("name", "varchar"),
      SchemaColumn("balance", "double"),
      SchemaColumn("created_at", "timestamp")))
  }

  test("introspected schema flows into the BQ type map (compat quirks)") {
    val fields = SchemaDoc.fromColumns(JdbcCatalog.introspectColumns(url, "users"), compat = true)
    assert(fields.map(f => f.name -> f.tpe.name) == Seq(
      "id" -> "INTEGER", "name" -> "STRING", "balance" -> "FLOAT",
      "created_at" -> "STRING")) // TIMESTAMP→STRING reference quirk
  }

  test("MySQL-dialect introspection: live SQL fixture through both type maps") {
    // The reference introspects MySQL INFORMATION_SCHEMA.COLUMNS with a
    // SQL query projecting the bare DATA_TYPE keyword (main.py:53); the
    // corrected map instead wants the full COLUMN_TYPE (it strips the
    // modifiers the bare keyword never carries). This drives BOTH query
    // shapes over a fixture carrying MySQL's byte-for-byte vocabulary in
    // both columns, then pins what each mode produces for every SURVEY
    // §1.2 quirk — each map fed its dialect-correct string.
    val murl = JdbcFixtures.seedMySqlShapeDb(
      java.nio.file.Files.createTempDirectory("derby-mysql").toString + "/db")
    val colsData = JdbcCatalog.introspectColumnsSql(
      spark, murl, JdbcFixtures.mySqlColumnsQuery("typed_tbl"))
    val colsFull = JdbcCatalog.introspectColumnsSql(
      spark, murl, JdbcFixtures.mySqlColumnsQueryFull("typed_tbl"))
    assert(colsData.map(_.name) ==
      JdbcFixtures.mySqlFixtureColumns.map(_._1), "ordinal order lost")
    assert(colsData.map(_.mysqlType) == JdbcFixtures.mySqlFixtureColumns.map(_._2))
    assert(colsFull.map(_.mysqlType) == JdbcFixtures.mySqlFixtureColumns.map(_._3))

    val compat =
      SchemaDoc.fromColumns(colsData, compat = true).map(f => f.name -> f.tpe.name).toMap
    val correct =
      SchemaDoc.fromColumns(colsFull, compat = false).map(f => f.name -> f.tpe.name).toMap

    // compat = bug-for-bug reference behavior over DATA_TYPE (substring
    // precedence): POINT catches the INT substring; DECIMAL collapses to
    // FLOAT; TIMESTAMP/ENUM/SET/YEAR/BLOB all fall through to STRING.
    assert(compat("id") == "INTEGER" && compat("qty") == "INTEGER" &&
      compat("pad") == "INTEGER" && compat("flag") == "INTEGER")
    assert(compat("loc") == "INTEGER", "compat must preserve the POINT→INT substring quirk")
    assert(compat("price") == "FLOAT" && compat("ratio") == "FLOAT")
    assert(compat("created") == "DATETIME" && compat("day") == "DATE")
    assert(Seq("status", "tags", "body", "updated", "yr", "payload")
      .forall(compat(_) == "STRING"))
    // the round-14-advice adversarial row: DATA_TYPE='enum' → STRING,
    // exactly as the reference behaves — even though its COLUMN_TYPE's
    // value list ('printed','updated') carries INT and DATE substrings.
    assert(compat("state") == "STRING",
      "compat must map by the bare DATA_TYPE keyword, never the value list")
    // ...and the divergence routing COLUMN_TYPE through the compat map
    // WOULD have produced, pinned as fact (DATE wins the precedence
    // chain inside 'updated'): the reason compat mode must introspect
    // DATA_TYPE for reference fidelity.
    assert(graft.core.TypeMapping.datatypeToBqCompat("enum('printed','updated')")
      == graft.core.BqType.Date)

    // correct mode over COLUMN_TYPE: modifiers stripped (with AND
    // without display width), POINT→STRING (geometry never integer),
    // DECIMAL stays NUMERIC, TIMESTAMP stays temporal, YEAR is integer,
    // LONGBLOB is bytes; enum value lists (takeWhile stops at '(')
    // always STRING regardless of their contents.
    assert(correct("id") == "INTEGER" && correct("qty") == "INTEGER" &&
      correct("pad") == "INTEGER" && correct("flag") == "INTEGER" &&
      correct("yr") == "INTEGER")
    assert(correct("loc") == "STRING")
    assert(correct("status") == "STRING" && correct("tags") == "STRING" &&
      correct("state") == "STRING")
    assert(correct("price") == "NUMERIC")
    assert(correct("updated") == "TIMESTAMP" && correct("created") == "DATETIME")
    assert(correct("payload") == "BYTES")

    // and the end of the chain: the Spark StructType a scan would use
    val st = SchemaDoc.toStructType(SchemaDoc.fromColumns(colsFull, compat = false))
    import org.apache.spark.sql.types._
    assert(st("id").dataType == LongType)
    assert(st("price").dataType == DecimalType(38, 9))
    assert(st("updated").dataType == TimestampType)
    assert(st("created").dataType == TimestampNTZType)
    assert(st("loc").dataType == StringType)
    assert(st("payload").dataType == BinaryType)
  }

  test("partitioned scan returns the same rows as unpartitioned") {
    val plain = JdbcCatalog.fullTableScan(spark, url, "users")
      .orderBy("id").collect().toSeq
    val parts = JdbcCatalog.fullTableScan(spark, url, "users", Some(("id", 1L, 50L, 4)))
    assert(parts.rdd.getNumPartitions == 4)
    assert(parts.orderBy("id").collect().toSeq == plain)
    assert(plain.size == 50)
  }

  test("arbitrary delegated SQL executes inside the database") {
    val n = JdbcCatalog
      .queryJdbc(spark, url, "SELECT COUNT(*) AS c FROM users WHERE balance > 30")
      .collect().head.get(0).toString.toLong
    assert(n == 30) // balances 1.5..75: ids 21..50 exceed 30
  }

  // --- credential indirection (reference get_secret.py shape) ---

  private lazy val securePw = "s3cret-Pw!42"
  private lazy val secureUrl = JdbcFixtures.seedSecureDb(
    java.nio.file.Files.createTempDirectory("derbysec").toString + "/db",
    user = "appuser",
    password = new Secret(securePw))

  test("secured database refuses unauthenticated connections") {
    val e = intercept[java.sql.SQLException](JdbcCatalog.introspectColumns(secureUrl, "users"))
    assert(e.getSQLState == "08004") // Derby: connection authentication failure
  }

  test("discovery works with file-resolved creds; URL carries no password") {
    assert(!secureUrl.contains(securePw) && !secureUrl.contains("appuser"))
    val credFile = java.nio.file.Files.createTempFile("graft-creds", ".properties")
    java.nio.file.Files.writeString(
      credFile, s"# mounted secrets\ndb.user=appuser\ndb.password=$securePw\n")
    val src = new CredentialSource.Chain(
      new CredentialSource.Env(Map.empty), // env first; empty here → falls to file
      new CredentialSource.PropsFile(credFile))
    val auth = JdbcAuth.resolve(src, "db.user", "db.password")
    // nothing printable leaks the secret
    assert(!auth.toString.contains(securePw) && !auth.password.toString.contains(securePw))
    val names = JdbcCatalog
      .discoverTables(spark, secureUrl, "user__field%", Seq("users"), auth = Some(auth))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("user__field_a", "user__field_b", "users"))
    // the row-data path authenticates too (schema-qualified: BUILTIN's
    // default schema is the user name, seeded tables live under APP)
    assert(JdbcCatalog.fullTableScan(spark, secureUrl, "APP.users", auth = Some(auth)).count() == 50)
  }

  test("credential sources: env mangling, chain precedence, missing key") {
    val env = new CredentialSource.Env(Map("DB_PASSWORD" -> "from-env"))
    assert(env.resolve("db.password").contains(new Secret("from-env")))
    val chain = new CredentialSource.Chain(env, CredentialSource.Static(Map("db.password" -> "from-file")))
    assert(chain.resolve("db.password").contains(new Secret("from-env")))
    val miss = intercept[IllegalArgumentException](chain.required("nope.key"))
    assert(miss.getMessage.contains("nope.key") && !miss.getMessage.contains("from-env"))
  }
}
