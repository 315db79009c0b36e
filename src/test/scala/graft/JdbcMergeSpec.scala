package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sink.JdbcMerge
import graft.sink.JdbcMerge.Config

/** Offline verification of the JDBC merge sink: generated T-SQL, batch
  * splitting/flushing, retry policy — driven through proxy JDBC objects
  * that record every call (no database in this environment). */
class JdbcMergeSpec extends SparkTestBase {

  import spark.implicits._

  // The reference sink's shape: uppercase names, ID key
  // (start-sink-connector.sh:70-71: pk.mode=record_key, pk.fields=ID).
  private val schema = StructType(Seq(
    StructField("ID", IntegerType, nullable = false),
    StructField("TITLE", StringType),
    StructField("RATING", DoubleType)))
  private val cfg = Config(table = "movies_sink", keyCols = Seq("ID"))

  test("mergeSql emits a keyed MERGE upsert with quoted identifiers") {
    assert(JdbcMerge.mergeSql(cfg, schema) ==
      "MERGE INTO [movies_sink] AS t USING (VALUES (?, ?, ?)) AS s ([ID], [TITLE], [RATING]) " +
        "ON t.[ID] = s.[ID] " +
        "WHEN MATCHED AND ? = 1 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET [TITLE] = s.[TITLE], [RATING] = s.[RATING] " +
        "WHEN NOT MATCHED AND ? = 0 THEN INSERT ([ID], [TITLE], [RATING]) " +
        "VALUES (s.[ID], s.[TITLE], s.[RATING]);")
  }

  test("mergeSql with key-only schema has no UPDATE clause") {
    val keyOnly = StructType(Seq(StructField("ID", IntegerType, nullable = false)))
    assert(JdbcMerge.mergeSql(cfg, keyOnly) ==
      "MERGE INTO [movies_sink] AS t USING (VALUES (?)) AS s ([ID]) ON t.[ID] = s.[ID] " +
        "WHEN MATCHED AND ? = 1 THEN DELETE " +
        "WHEN NOT MATCHED AND ? = 0 THEN INSERT ([ID]) VALUES (s.[ID]);")
  }

  test("the MERGE's DELETE clause deletes by the record key only") {
    // the tombstone handler is the MERGE's flag-guarded WHEN MATCHED …
    // DELETE: the row is chosen by the ON predicate alone — the record
    // key, every key column of a composite one — and nothing else
    def deletePart(sql: String): String =
      sql.substring(0, sql.indexOf(" THEN DELETE ") + " THEN DELETE".length)
    assert(deletePart(JdbcMerge.mergeSql(cfg, schema)) ==
      "MERGE INTO [movies_sink] AS t USING (VALUES (?, ?, ?)) AS s ([ID], [TITLE], [RATING]) " +
        "ON t.[ID] = s.[ID] WHEN MATCHED AND ? = 1 THEN DELETE")
    val ab = StructType(Seq(
      StructField("A", IntegerType, nullable = false),
      StructField("B", IntegerType, nullable = false),
      StructField("TITLE", StringType)))
    assert(deletePart(JdbcMerge.mergeSql(cfg.copy(keyCols = Seq("A", "B")), ab)) ==
      "MERGE INTO [movies_sink] AS t USING (VALUES (?, ?, ?)) AS s ([A], [B], [TITLE]) " +
        "ON t.[A] = s.[A] AND t.[B] = s.[B] WHEN MATCHED AND ? = 1 THEN DELETE")
    val dcfg = cfg.copy(keyCols = Seq("A", "B"), dialect = JdbcMerge.Derby)
    assert(deletePart(JdbcMerge.mergeSql(dcfg, ab)) ==
      "MERGE INTO \"movies_sink\" AS t USING SYSIBM.SYSDUMMY1 " +
        "ON t.\"A\" = ? AND t.\"B\" = ? WHEN MATCHED AND CAST(? AS BOOLEAN) THEN DELETE")
  }

  test("composite keyCols: MERGE joins on every key, UPDATE excludes them, PK spans them in order") {
    // Connect's pk.fields is a LIST — the replication facade derives a
    // multi-column keyCols for composite-PK tables, so the T-SQL shapes
    // (Derby's are EXECUTED for real in ReplicationFacadeSpec) are
    // pinned here for the reference's actual MSSQL target
    val cSchema = StructType(Seq(
      StructField("TENANT", StringType, nullable = false),
      StructField("ID", IntegerType, nullable = false),
      StructField("TITLE", StringType)))
    val ccfg = Config(table = "orders_sink", keyCols = Seq("TENANT", "ID"))
    assert(JdbcMerge.mergeSql(ccfg, cSchema) ==
      "MERGE INTO [orders_sink] AS t USING (VALUES (?, ?, ?)) AS s ([TENANT], [ID], [TITLE]) " +
        "ON t.[TENANT] = s.[TENANT] AND t.[ID] = s.[ID] " +
        "WHEN MATCHED AND ? = 1 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET [TITLE] = s.[TITLE] " +
        "WHEN NOT MATCHED AND ? = 0 THEN INSERT ([TENANT], [ID], [TITLE]) " +
        "VALUES (s.[TENANT], s.[ID], s.[TITLE]);")
    // the string KEY column gets the largest INDEXABLE size — SQL
    // Server rejects MAX-typed columns in a PRIMARY KEY (900-byte index
    // key limit), so NVARCHAR(MAX) there failed auto-create for every
    // string-keyed table (r20 review finding); non-key strings keep MAX
    assert(JdbcMerge.createTableSql(ccfg, cSchema).endsWith(
      "([TENANT] NVARCHAR(450) NOT NULL, [ID] INT NOT NULL, [TITLE] NVARCHAR(MAX), " +
        "PRIMARY KEY ([TENANT], [ID]))"))
    // bind orders: T-SQL's VALUES row binds schema order, then the two
    // deletion flags; Derby's SYSDUMMY1 idiom binds keys (ON), flag,
    // non-keys (SET), flag, then the full row (INSERT)
    val F = JdbcMerge.DeletionFlag
    assert(JdbcMerge.TSql.mergeBindIndices(ccfg, cSchema) == Seq(0, 1, 2, F, F))
    val dcfg = ccfg.copy(dialect = JdbcMerge.Derby)
    assert(JdbcMerge.Derby.mergeBindIndices(dcfg, cSchema) == Seq(0, 1, F, 2, F, 0, 1, 2))
  }

  test("createTableSql is idempotent auto-create DDL with a primary key") {
    // the OBJECT_ID existence check must use the SAME quoted form CREATE
    // uses, or quoted-identifier tables re-run CREATE on every start
    assert(JdbcMerge.createTableSql(cfg, schema) ==
      "IF OBJECT_ID(N'[movies_sink]', N'U') IS NULL CREATE TABLE [movies_sink] " +
        "([ID] INT NOT NULL, [TITLE] NVARCHAR(MAX), [RATING] FLOAT, PRIMARY KEY ([ID]))")
  }

  test("identifier quoting survives reserved words, spaces and hostile names") {
    // kafka-connect-jdbc quotes identifiers by default
    // (quote.sql.identifiers=ALWAYS); a reserved-word or hostile column
    // name must not break or inject into the generated T-SQL.
    val hostile = StructType(Seq(
      StructField("ORDER", IntegerType, nullable = false), // reserved word
      StructField("movie title", StringType),              // space
      StructField("x]; DROP TABLE t; --", StringType)))    // bracket escape
    val hcfg = Config(table = "cso.movies_sink", keyCols = Seq("ORDER"))
    assert(JdbcMerge.TSql.quoteId("x]; DROP TABLE t; --") == "[x]]; DROP TABLE t; --]")
    assert(JdbcMerge.TSql.quoteTable("cso.movies_sink") == "[cso].[movies_sink]")
    val ddl = JdbcMerge.createTableSql(hcfg, hostile)
    assert(ddl.startsWith("IF OBJECT_ID(N'[cso].[movies_sink]', N'U') IS NULL "))
    assert(ddl.contains("CREATE TABLE [cso].[movies_sink] ([ORDER] INT NOT NULL, " +
      "[movie title] NVARCHAR(MAX), [x]]; DROP TABLE t; --] NVARCHAR(MAX), " +
      "PRIMARY KEY ([ORDER]))"))
    assert(JdbcMerge.mergeSql(hcfg, hostile).startsWith(
      "MERGE INTO [cso].[movies_sink] AS t USING (VALUES (?, ?, ?)) " +
        "AS s ([ORDER], [movie title], [x]]; DROP TABLE t; --]) " +
        "ON t.[ORDER] = s.[ORDER] WHEN MATCHED AND ? = 1 THEN DELETE "))
  }

  test("sqlType covers the reference's type surface") {
    assert(JdbcMerge.TSql.sqlType(DecimalType(3, 1)) == "DECIMAL(3,1)") // movies.rating
    assert(JdbcMerge.TSql.sqlType(LongType) == "BIGINT")                // budget/box_office
    assert(JdbcMerge.TSql.sqlType(TimestampType) == "DATETIME2")        // created_at
    assert(JdbcMerge.TSql.sqlType(StringType) == "NVARCHAR(MAX)")       // description
    intercept[IllegalArgumentException](JdbcMerge.TSql.sqlType(ArrayType(IntegerType)))
  }

  // ---- auto.evolve (reference: start-sink-connector.sh:68) --------------

  test("evolveTableSql adds nullable columns for new fields only") {
    val widened = schema.add(StructField("RELEASE_YEAR", IntegerType))
    val existing = Seq(("ID", "int"), ("TITLE", "nvarchar"), ("RATING", "float"))
    assert(JdbcMerge.evolveTableSql(cfg, existing, widened) ==
      Seq("ALTER TABLE [movies_sink] ADD [RELEASE_YEAR] INT NULL"))
    // already in sync → no DDL
    assert(JdbcMerge.evolveTableSql(cfg, existing, schema).isEmpty)
  }

  test("evolveTableSql matches names case-insensitively and types by base token") {
    // SQL Server's default collation is case-insensitive; metadata type
    // names come back without length specs (nvarchar, not NVARCHAR(MAX))
    val existing = Seq(("id", "INT"), ("title", "NVARCHAR(MAX)"), ("Rating", "FLOAT"))
    assert(JdbcMerge.evolveTableSql(cfg, existing, schema).isEmpty)
  }

  test("evolveTableSql rejects type changes loudly — evolution is additive only") {
    val existing = Seq(("ID", "int"), ("TITLE", "nvarchar"), ("RATING", "int"))
    val e = intercept[IllegalArgumentException] {
      JdbcMerge.evolveTableSql(cfg, existing, schema)
    }
    assert(e.getMessage.contains("RATING") && e.getMessage.contains("additive"))
  }

  test("evolveTableSql rejects DECIMAL precision/scale changes when both sides expose a spec") {
    // base-token comparison alone let a (20,4) widening over a live
    // (10,2) pass silently and overflow at MERGE time inside partition
    // tasks (r20 review finding); tableColumns now composes the live
    // spec from COLUMN_SIZE/DECIMAL_DIGITS so this check can see it
    val dSchema = StructType(Seq(
      StructField("ID", IntegerType, nullable = false),
      StructField("PRICE", DecimalType(20, 4))))
    val e = intercept[IllegalArgumentException] {
      JdbcMerge.evolveTableSql(cfg, Seq(("ID", "int"), ("PRICE", "DECIMAL(10,2)")), dSchema)
    }
    assert(e.getMessage.contains("PRICE") && e.getMessage.contains("precision/scale"),
      e.getMessage)
    // the SAME spec is steady-state, not a change
    assert(JdbcMerge.evolveTableSql(
      cfg, Seq(("ID", "int"), ("PRICE", "DECIMAL(20,4)")), dSchema).isEmpty)
    // a live name WITHOUT a spec stays base-only checkable, as before
    assert(JdbcMerge.evolveTableSql(
      cfg, Seq(("ID", "int"), ("PRICE", "decimal")), dSchema).isEmpty)
    // decorations keep working alongside the composed spec
    assert(JdbcMerge.evolveTableSql(
      cfg, Seq(("ID", "int"), ("PRICE", "DECIMAL(20,4) identity")), dSchema).isEmpty)
  }

  test("evolveTableSql rejects adding a NOT NULL column") {
    val widened = schema.add(StructField("STRICT", IntegerType, nullable = false))
    val existing = Seq(("ID", "int"), ("TITLE", "nvarchar"), ("RATING", "float"))
    val e = intercept[IllegalArgumentException] {
      JdbcMerge.evolveTableSql(cfg, existing, widened)
    }
    assert(e.getMessage.contains("STRICT"))
  }

  test("tableColumns escapes LIKE metacharacters and splits the schema qualifier") {
    val conn = new FakeJdbc.FakeConnection
    conn.columnsMeta = Seq(("ID", "int"), ("TITLE", "nvarchar"))
    assert(JdbcMerge.tableColumns(conn.proxy, "cso.movies_sink") ==
      Seq(("ID", "int"), ("TITLE", "nvarchar")))
    // `_` is a single-char wildcard in getColumns patterns — unescaped,
    // `movies_sink` would also match a table named `moviesXsink`
    assert(conn.metaQueries.toSeq == Seq(("cso", "movies\\_sink")))
    // an unqualified name scopes to the CONNECTION's current schema — a
    // null pattern would merge same-named tables from every schema and
    // feed evolution a wrong column inventory
    conn.metaQueries.clear()
    JdbcMerge.tableColumns(conn.proxy, "movies_sink")
    assert(conn.metaQueries.toSeq == Seq(("dbo", "movies\\_sink")))
  }

  test("evolveTableSql tolerates decorated metadata type names (int identity)") {
    // the Microsoft driver reports TYPE_NAME "int identity" for IDENTITY
    // key columns — a compatible table, not a type change
    val existing = Seq(("ID", "int identity"), ("TITLE", "nvarchar"), ("RATING", "float"))
    assert(JdbcMerge.evolveTableSql(cfg, existing, schema).isEmpty)
  }

  test("mid-stream schema widening evolves the table once, then merges cleanly") {
    // The VERDICT-prescribed scenario: a new column appears in the
    // changelog schema mid-run. Batch 1 runs at the original schema
    // (cold start: table auto-created, metadata empty, no evolution);
    // batch 2 arrives widened against the live v1 table → exactly one
    // ALTER ADD; batch 3 sees the evolved table → no further DDL.
    val widened = schema.add(StructField("RELEASE_YEAR", IntegerType))
    val ddlLog = mutable.ArrayBuffer[String]()

    // batch 1 — cold start, v1 schema
    val conn1 = new FakeJdbc.FakeConnection
    JdbcMerge.ensureTable(cfg, schema, conn1.proxy)
    ddlLog ++= conn1.ddl
    assert(conn1.ddl.count(_.startsWith("IF OBJECT_ID")) == 1)
    assert(!conn1.ddl.exists(_.contains("ALTER")))

    // batch 2 — table now live at v1, stream widened to v2
    val conn2 = new FakeJdbc.FakeConnection
    conn2.columnsMeta = Seq(("ID", "int"), ("TITLE", "nvarchar"), ("RATING", "float"))
    JdbcMerge.ensureTable(cfg, widened, conn2.proxy)
    ddlLog ++= conn2.ddl
    assert(conn2.ddl.contains("ALTER TABLE [movies_sink] ADD [RELEASE_YEAR] INT NULL"))
    assert(conn2.commits == 2) // create-guard commit + evolve commit
    // ... and the widened MERGE applies against the evolved table
    JdbcMerge.applyPartition(
      Iterator(Row(1, "a", 1.0, 2024), Row(2, null, null, null)),
      widened, cfg, (r: Row) => r.isNullAt(1), conn2.proxy, _ => ())
    val merge = conn2.statements.find(_.sql.startsWith("MERGE")).get
    assert(merge.sql.contains("[RELEASE_YEAR]"))
    // the tombstone (TITLE null) rides the same MERGE: key + flag only
    assert(merge.batches.toSeq == Seq(
      Seq(1, "a", 1.0, 2024, false, false), Seq(2, null, null, null, true, true)))

    // batch 3 — schema and table in sync again
    val conn3 = new FakeJdbc.FakeConnection
    conn3.columnsMeta = Seq(
      ("ID", "int"), ("TITLE", "nvarchar"), ("RATING", "float"),
      ("RELEASE_YEAR", "int"))
    JdbcMerge.ensureTable(cfg, widened, conn3.proxy)
    ddlLog ++= conn3.ddl
    assert(!conn3.ddl.exists(_.contains("ALTER")))

    // the widening produced exactly ONE ALTER across the whole run
    assert(ddlLog.count(_.contains("ALTER")) == 1)
  }

  test("withRetries retries with backoff then succeeds") {
    val sleeps = mutable.ArrayBuffer[Long]()
    var calls = 0
    val got = JdbcMerge.withRetries(10, 3000L, sleeps += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(got == 42 && calls == 3)
    assert(sleeps.toSeq == Seq(3000L, 3000L))
  }

  test("withRetries gives up after maxRetries and rethrows") {
    val sleeps = mutable.ArrayBuffer[Long]()
    var calls = 0
    val e = intercept[RuntimeException] {
      JdbcMerge.withRetries(10, 3000L, sleeps += _) { calls += 1; throw new RuntimeException("down") }
    }
    assert(e.getMessage == "down")
    assert(calls == 11) // 1 attempt + 10 retries (start-sink-connector.sh:79)
    assert(sleeps.size == 10)
  }

  // ---- proxy JDBC plumbing (shared recorder in FakeJdbc) ----------------

  import FakeJdbc.FakeConnection

  private def rows(data: (Int, String, java.lang.Double)*): Iterator[Row] =
    data.iterator.map { case (id, t, r) => Row(id, t, r) }

  private val isTombstone: Row => Boolean = _.isNullAt(1) // TITLE null = tombstone

  test("applyPartition routes, batches and commits per the reference protocol") {
    val conn = new FakeConnection
    // one statement for upserts and tombstones alike: batchSize=2 flushes
    // the 8 rows as [1,2] [3,4] [5,6] [7,8], one transaction per flush
    JdbcMerge.applyPartition(
      rows((1, "a", 1.0), (2, null, null), (3, "c", 3.0), (4, "d", 4.0),
           (5, null, null), (6, "f", 6.0), (7, "g", 7.0), (8, null, null)),
      schema, cfg.copy(batchSize = 2), isTombstone, conn.proxy, _ => ())
    val Seq(merge) = conn.statements.toSeq
    assert(merge.sql.startsWith("MERGE INTO [movies_sink]"))
    // T-SQL binds (ID, TITLE, RATING, flag, flag); a tombstone binds its
    // key and the flag, every other parameter NULL
    assert(merge.batches.toSeq == Seq(
      Seq(1, "a", 1.0, false, false), Seq(2, null, null, true, true),
      Seq(3, "c", 3.0, false, false), Seq(4, "d", 4.0, false, false),
      Seq(5, null, null, true, true), Seq(6, "f", 6.0, false, false),
      Seq(7, "g", 7.0, false, false), Seq(8, null, null, true, true)))
    assert(merge.executions.toSeq == Seq(2, 2, 2, 2))
    assert(conn.commits == 4) // one transaction per flush
  }

  test("applyPartition keeps same-key operation order: delete then re-insert survives") {
    // A tombstone for key 1 followed by its re-insert in the SAME
    // partition must apply in row order. All three go to ONE batch of
    // the one MERGE, in row order — a JDBC batch executes in order, so
    // key 1 resolves to the re-insert (DerbyMergeSpec executes it).
    val conn = new FakeConnection
    JdbcMerge.applyPartition(
      rows((1, "a", 1.0), (1, null, null), (1, "reborn", 2.0)),
      schema, cfg, isTombstone, conn.proxy, _ => ())
    val Seq(merge) = conn.statements.toSeq
    assert(merge.executions.toSeq == Seq(3))
    assert(merge.batches.toSeq == Seq(
      Seq(1, "a", 1.0, false, false),
      Seq(1, null, null, true, true),
      Seq(1, "reborn", 2.0, false, false)))
    assert(conn.commits == 1)
  }

  test("applyPartition with delete.enabled=false ignores tombstones") {
    val conn = new FakeConnection
    JdbcMerge.applyPartition(
      rows((1, "a", 1.0), (2, null, null)),
      schema, cfg.copy(deleteEnabled = false), isTombstone, conn.proxy, _ => ())
    val Seq(merge) = conn.statements.toSeq
    // the tombstone is skipped before buffering: no row carries the flag
    assert(merge.batches.toSeq == Seq(Seq(1, "a", 1.0, false, false)))
    assert(merge.executions.toSeq == Seq(1))
  }

  test("applyPartition retries a failing flush with backoff, rolling back between attempts") {
    val conn = new FakeConnection(failuresPerStatement = 2)
    val sleeps = mutable.ArrayBuffer[Long]()
    JdbcMerge.applyPartition(
      rows((1, "a", 1.0)),
      schema, cfg, isTombstone, conn.proxy, sleeps += _)
    assert(sleeps.toSeq == Seq(3000L, 3000L)) // two injected failures
    assert(conn.commits == 1)
    // a server that aborts the transaction after an error (MSSQL deadlock
    // victim) needs a rollback before each retry attempt
    assert(conn.rollbacks == 2)
    assert(conn.statements.head.executions.toSeq == Seq(1))
  }

  test("applyPartition retries a transient COMMIT failure, not just executeBatch") {
    val conn = new FakeConnection
    conn.commitFailuresToInject = 1
    val sleeps = mutable.ArrayBuffer[Long]()
    JdbcMerge.applyPartition(
      rows((1, "a", 1.0)),
      schema, cfg, isTombstone, conn.proxy, sleeps += _)
    assert(sleeps.toSeq == Seq(3000L)) // one failed commit, one retry
    assert(conn.commits == 1 && conn.rollbacks == 1)
    // the batch was re-bound and re-executed on the retry attempt
    assert(conn.statements.head.executions.toSeq == Seq(1, 1))
    assert(conn.statements.head.batches.toSeq ==
      Seq(Seq(1, "a", 1.0, false, false), Seq(1, "a", 1.0, false, false)))
  }

  test("applyPartition exhausts retries and propagates the failure uncommitted") {
    val conn = new FakeConnection(failuresPerStatement = 11) // > 10 retries
    val e = intercept[RuntimeException] {
      JdbcMerge.applyPartition(
        rows((1, "a", 1.0)),
        schema, cfg, isTombstone, conn.proxy, _ => ())
    }
    assert(e.getMessage == "injected executeBatch failure")
    assert(conn.commits == 0)
    assert(conn.rollbacks == 10) // one per retry attempt
  }

  test("applyPartition does not retry on a lost connection") {
    // one failure, then 08003 "No current connection" on every later
    // call: at most one backoff, and the first failure — the cause — is
    // carried by the thrown exception
    val conn = new FakeConnection(failuresPerStatement = 1, loseAfterFailures = true)
    val sleeps = mutable.ArrayBuffer[Long]()
    val e = intercept[java.sql.SQLNonTransientConnectionException] {
      JdbcMerge.applyPartition(
        rows((1, "a", 1.0)), schema, cfg, isTombstone, conn.proxy, sleeps += _)
    }
    assert(sleeps.size <= 1, sleeps)
    assert(e.getSQLState == "08003")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("injected executeBatch failure"))
    assert(conn.commits == 0)
    // a connection that reports isClosed after the failure: no backoff,
    // the first failure itself is thrown
    val closed = new FakeConnection(
      failuresPerStatement = 1, loseAfterFailures = true, reportsClosed = true)
    sleeps.clear()
    val first = intercept[RuntimeException] {
      JdbcMerge.applyPartition(
        rows((1, "a", 1.0)), schema, cfg, isTombstone, closed.proxy, sleeps += _)
    }
    assert(first.getMessage == "injected executeBatch failure" && sleeps.isEmpty)
  }

  test("null column values bind as SQL NULL in upserts") {
    val conn = new FakeConnection
    JdbcMerge.applyPartition(
      rows((1, "a", null)), // RATING null but TITLE present → still an upsert
      schema, cfg, isTombstone, conn.proxy, _ => ())
    assert(conn.statements.head.batches.toSeq == Seq(Seq(1, "a", null, false, false)))
  }
}
