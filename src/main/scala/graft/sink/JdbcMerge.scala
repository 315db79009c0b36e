package graft.sink

import java.sql.{Connection, SQLNonTransientConnectionException}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JDBC upsert + tombstone-delete sink — the engine's analog of the
  * reference's kafka-connect-jdbc sink
  * (reference: start-sink-connector.sh:61-87): `insert.mode=upsert` (:69),
  * `pk.mode=record_key` / `pk.fields=ID` (:70-71), `delete.enabled=true`
  * (:73), `auto.create`/`auto.evolve` (:67-68), `batch.size=3000` (:78),
  * 10 retries × 3 s backoff (:79-80).
  *
  * Spark has no built-in JDBC upsert, so this is a `foreachBatch` helper:
  * per partition, ONE prepared MERGE whose bound deletion flag picks the
  * action — DELETE a matched key when the row is a tombstone, UPDATE or
  * INSERT it otherwise — run in prepared-statement batches. A JDBC batch
  * executes its rows in order, so same-key operations (a tombstone then
  * a re-insert) apply in row order inside one batch.
  *
  * Delivery semantics: at-least-once per micro-batch, the same contract as
  * the Connect sink (a retried batch re-applies the MERGE, idempotent by
  * key), NOT exactly-once — a failure between partitions leaves a
  * partially-applied batch that the retry re-covers.
  *
  * Scale notes: work is executor-side (`foreachPartition`) — the driver
  * never collects rows; each partition holds one connection and flushes
  * every `batchSize` rows, so memory is O(batchSize), connections are
  * O(partitions). Repartition the changelog to size the connection pool.
  */
object JdbcMerge {

  /** Knobs, defaulted to the reference's sink connector config.
    * `table` may be schema-qualified with dots (`cso.movies_sink`); dots
    * are ALWAYS qualifier separators, so identifiers that themselves
    * contain a dot cannot be expressed — see [[Dialect.quoteTable]].
    * `dialect` picks the SQL surface: [[TSql]] (the reference's MSSQL
    * target) by default, [[Derby]] for the embedded engine the
    * integration spec executes against for real. */
  case class Config(
      table: String,
      keyCols: Seq[String],
      batchSize: Int = 3000,
      maxRetries: Int = 10,
      retryBackoffMs: Long = 3000L,
      autoCreate: Boolean = true,
      autoEvolve: Boolean = true,
      deleteEnabled: Boolean = true,
      dialect: Dialect = TSql)

  /** The dialect seam: everything engine-specific about the generated
    * SQL lives behind this trait — identifier quoting, the type map,
    * whether CREATE carries its own existence guard, the upsert-or-delete
    * MERGE shape (and, because shapes differ, the parameter bind order),
    * and the ADD-COLUMN syntax. Two implementations: [[TSql]] mirrors the
    * reference's kafka-connect-jdbc → MSSQL sink; [[Derby]] exists so
    * the generated statements are parsed AND EXECUTED by a real SQL
    * engine in the test suite (embedded Derby 10.16 supports MERGE) —
    * a typo in the generated dialect can't hide behind a recording
    * proxy. */
  sealed trait Dialect extends Serializable {
    def quoteId(name: String): String
    /** Quote each dot-separated segment of a (possibly schema-qualified)
      * table name, e.g. `cso.movies_sink` → `[cso].[movies_sink]` in
      * T-SQL. EVERY dot is a qualifier separator: an identifier that
      * legitimately contains a dot (or is already quoted) cannot be
      * expressed through `Config.table`. The reference sink has the
      * same surface (`table.name.format` is a plain dotted name,
      * start-sink-connector.sh:72). */
    def quoteTable(name: String): String =
      name.split('.').map(quoteId).mkString(".")
    def sqlType(dt: DataType): String
    /** true when [[createTableSql]] embeds its own IF-NOT-EXISTS-style
      * guard; false makes [[ensureTable]] consult live metadata first. */
    def guardedCreate: Boolean
    def createTableSql(cfg: Config, schema: StructType): String
    /** One-row MERGE that deletes a matched key when its deletion flag
      * is bound true and upserts otherwise. Two flag parameters: one
      * guards the WHEN MATCHED … DELETE clause, one the INSERT. */
    def mergeSql(cfg: Config, schema: StructType): String
    /** Field indices (into `schema`) in [[mergeSql]]'s `?` order, with
      * [[DeletionFlag]] at the flag slots — the T-SQL VALUES row binds
      * each column once in schema order, then the two flags; the Derby
      * SYSDUMMY1 idiom binds keys (ON), flag, non-keys (SET), flag, then
      * the full row (INSERT). The key stays parameter 1 and the INSERT
      * values stay last on both. */
    def mergeBindIndices(cfg: Config, schema: StructType): Seq[Int]
    def alterAddSql(cfg: Config, f: StructField): String
  }

  /** T-SQL (MSSQL) — the reference sink's actual target dialect. */
  case object TSql extends Dialect {
    /** Bracket-quoted identifier — the reference sink quotes identifiers
      * by default (kafka-connect-jdbc `quote.sql.identifiers` defaults
      * to ALWAYS); `]` escapes by doubling per T-SQL rules. */
    def quoteId(name: String): String = "[" + name.replace("]", "]]") + "]"

    def sqlType(dt: DataType): String = dt match {
      case IntegerType        => "INT"
      case LongType           => "BIGINT"
      case ShortType          => "SMALLINT"
      case ByteType           => "TINYINT"
      case BooleanType        => "BIT"
      case FloatType          => "REAL"
      case DoubleType         => "FLOAT"
      case d: DecimalType     => s"DECIMAL(${d.precision},${d.scale})"
      case StringType         => "NVARCHAR(MAX)"
      case BinaryType         => "VARBINARY(MAX)"
      case DateType           => "DATE"
      case TimestampType      => "DATETIME2"
      case other => throw new IllegalArgumentException(s"no JDBC mapping for $other")
    }

    def guardedCreate: Boolean = true

    /** Key-column type: SQL Server rejects MAX-typed columns in any
      * index key (900-byte limit), so a string/binary PRIMARY KEY gets
      * the largest indexable size instead — NVARCHAR(450) = 900 bytes,
      * VARBINARY(900). Without this, auto-create failed for EVERY
      * string-keyed table ("invalid for use as a key column"), which
      * the offline Derby dialect (sized VARCHAR) concealed (r20 review
      * finding). Non-key columns keep MAX. */
    private def keySqlType(dt: DataType): String = dt match {
      case StringType => "NVARCHAR(450)"
      case BinaryType => "VARBINARY(900)"
      case other      => sqlType(other)
    }

    def createTableSql(cfg: Config, schema: StructType): String = {
      val cols = schema.fields
        .map { f =>
          val nullability =
            if (cfg.keyCols.contains(f.name) || !f.nullable) " NOT NULL" else ""
          val tpe =
            if (cfg.keyCols.contains(f.name)) keySqlType(f.dataType)
            else sqlType(f.dataType)
          s"${quoteId(f.name)} $tpe$nullability"
        }
        .mkString(", ")
      val pk = s", PRIMARY KEY (${cfg.keyCols.map(quoteId).mkString(", ")})"
      // OBJECT_ID must receive the SAME quoted form CREATE uses — with
      // the raw name, a bracketed-identifier table (space/reserved word)
      // parses as NULL every time and the "idempotent" DDL re-runs and
      // fails.
      val quoted = quoteTable(cfg.table)
      s"IF OBJECT_ID(N'${quoted.replace("'", "''")}', N'U') IS NULL " +
        s"CREATE TABLE $quoted ($cols$pk)"
    }

    def mergeSql(cfg: Config, schema: StructType): String = {
      val cols = schema.fieldNames.toSeq.map(quoteId)
      val keys = cfg.keyCols.map(quoteId)
      val nonKey = cols.filterNot(keys.contains)
      val src = cols.map(_ => "?").mkString(", ")
      val on = keys.map(k => s"t.$k = s.$k").mkString(" AND ")
      val set = nonKey.map(c => s"$c = s.$c").mkString(", ")
      val insertCols = cols.mkString(", ")
      val insertVals = cols.map(c => s"s.$c").mkString(", ")
      // a second WHEN MATCHED clause is legal because the first has an
      // AND condition
      s"MERGE INTO ${quoteTable(cfg.table)} AS t " +
        s"USING (VALUES ($src)) AS s (${cols.mkString(", ")}) " +
        s"ON $on " +
        "WHEN MATCHED AND ? = 1 THEN DELETE " +
        (if (nonKey.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $set " else "") +
        s"WHEN NOT MATCHED AND ? = 0 THEN INSERT ($insertCols) VALUES ($insertVals);"
    }

    def mergeBindIndices(cfg: Config, schema: StructType): Seq[Int] =
      schema.fields.indices ++ Seq(DeletionFlag, DeletionFlag)

    def alterAddSql(cfg: Config, f: StructField): String =
      s"ALTER TABLE ${quoteTable(cfg.table)} ADD " +
        s"${quoteId(f.name)} ${sqlType(f.dataType)} NULL"
  }

  /** Embedded Apache Derby — the dialect the integration spec runs for
    * real (the only SQL engine available offline that parses MERGE).
    * Differences from T-SQL, each verified against Derby 10.16:
    *  - double-quoted identifiers (`"` doubled to escape);
    *  - no NVARCHAR/MAX types: VARCHAR(32672) (Derby's max), BLOB,
    *    BOOLEAN, DOUBLE, TIMESTAMP; DECIMAL precision caps at 31;
    *  - no IF-guard syntax: CREATE is unguarded, [[ensureTable]] checks
    *    live metadata first ([[guardedCreate]] = false);
    *  - MERGE's source must be a base table or table function — the
    *    `USING SYSIBM.SYSDUMMY1 ON t.k = ?` one-row idiom replaces the
    *    VALUES row, which changes the bind order (keys, flag, non-keys,
    *    flag, full row) and drops the statement terminator (Derby
    *    rejects `;`);
    *  - the deletion flag is bound through `CAST(? AS BOOLEAN)`, which
    *    gives the parameter its type. */
  case object Derby extends Dialect {
    def quoteId(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

    def sqlType(dt: DataType): String = dt match {
      case IntegerType        => "INTEGER"
      case LongType           => "BIGINT"
      case ShortType          => "SMALLINT"
      case ByteType           => "SMALLINT" // Derby has no TINYINT
      case BooleanType        => "BOOLEAN"
      case FloatType          => "REAL"
      case DoubleType         => "DOUBLE"
      case d: DecimalType if d.precision <= 31 =>
        s"DECIMAL(${d.precision},${d.scale})"
      case d: DecimalType =>
        throw new IllegalArgumentException(
          s"Derby DECIMAL precision caps at 31, got $d")
      case StringType         => "VARCHAR(32672)"
      case BinaryType         => "BLOB"
      case DateType           => "DATE"
      case TimestampType      => "TIMESTAMP"
      case other => throw new IllegalArgumentException(s"no JDBC mapping for $other")
    }

    def guardedCreate: Boolean = false

    def createTableSql(cfg: Config, schema: StructType): String = {
      val cols = schema.fields
        .map { f =>
          val nullability =
            if (cfg.keyCols.contains(f.name) || !f.nullable) " NOT NULL" else ""
          s"${quoteId(f.name)} ${sqlType(f.dataType)}$nullability"
        }
        .mkString(", ")
      val pk = s", PRIMARY KEY (${cfg.keyCols.map(quoteId).mkString(", ")})"
      s"CREATE TABLE ${quoteTable(cfg.table)} ($cols$pk)"
    }

    def mergeSql(cfg: Config, schema: StructType): String = {
      val keys = cfg.keyCols.map(quoteId)
      val cols = schema.fieldNames.toSeq.map(quoteId)
      val nonKey = cols.filterNot(keys.contains)
      val on = keys.map(k => s"t.$k = ?").mkString(" AND ")
      val set = nonKey.map(c => s"$c = ?").mkString(", ")
      s"MERGE INTO ${quoteTable(cfg.table)} AS t USING SYSIBM.SYSDUMMY1 " +
        s"ON $on " +
        "WHEN MATCHED AND CAST(? AS BOOLEAN) THEN DELETE " +
        (if (nonKey.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $set " else "") +
        "WHEN NOT MATCHED AND NOT CAST(? AS BOOLEAN) " +
        s"THEN INSERT (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    }

    def mergeBindIndices(cfg: Config, schema: StructType): Seq[Int] = {
      val keyIdx = cfg.keyCols.map(schema.fieldIndex)
      val nonKeyIdx = schema.fields.indices.filterNot(keyIdx.contains)
      (keyIdx :+ DeletionFlag) ++ (nonKeyIdx :+ DeletionFlag) ++ schema.fields.indices
    }

    def alterAddSql(cfg: Config, f: StructField): String =
      s"ALTER TABLE ${quoteTable(cfg.table)} ADD COLUMN " +
        s"${quoteId(f.name)} ${sqlType(f.dataType)}"
  }

  // ---- SQL generation (dispatches to the Config's dialect) --------------

  /** `auto.create`-style idempotent DDL derived from the value schema
    * (reference: start-sink-connector.sh:67, auto-created `movies_sink`).
    */
  def createTableSql(cfg: Config, schema: StructType): String =
    cfg.dialect.createTableSql(cfg, schema)

  /** Live column inventory of the sink table via JDBC metadata
    * (name, declared type), in ordinal order; empty when the table does
    * not exist yet. SQL `LIKE`-pattern metacharacters in the table/schema
    * name are escaped with the driver's escape string so `movies_sink`
    * matches literally, not as a pattern. */
  def tableColumns(conn: Connection, table: String): Seq[(String, String)] = {
    val md = conn.getMetaData
    val esc = md.getSearchStringEscape
    def literal(s: String): String =
      s.flatMap { c =>
        if (c == '_' || c == '%' || esc.contains(c)) esc + c else c.toString
      }
    val parts = table.split('.')
    // An unqualified name must still scope to ONE schema: a null pattern
    // merges same-named tables from every schema (dbo.movies_sink +
    // staging.movies_sink) and feeds evolution a wrong column inventory.
    // Fall back to the connection's current schema; null only when the
    // driver can't report one.
    val schemaPattern =
      if (parts.length >= 2) literal(parts(parts.length - 2))
      else
        (try Option(conn.getSchema) catch { case _: Exception => None: Option[String] })
          .map(literal).orNull
    val rs = md.getColumns(null, schemaPattern, literal(parts.last), null)
    try {
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      while (rs.next()) {
        val raw = rs.getString("TYPE_NAME")
        // DECIMAL/NUMERIC TYPE_NAMEs usually omit precision ("DECIMAL"
        // on Derby and SQL Server): compose "(p,s)" from the metadata
        // columns so evolution can SEE a precision/scale change — a
        // silent narrowing previously slipped the additive-only gate
        // and failed rows deep inside MERGE tasks instead (r20 review
        // finding). Decorations ("decimal identity") keep their tail.
        val base = raw.takeWhile(_ != '(').trim
          .split("\\s+").head.toUpperCase(java.util.Locale.ROOT)
        val composed =
          if ((base == "DECIMAL" || base == "NUMERIC") && !raw.contains("(")) {
            val p = rs.getInt("COLUMN_SIZE")
            val s = rs.getInt("DECIMAL_DIGITS")
            // JDBC allows a NULL scale (getInt then reads 0): composing
            // a fabricated (p,0) would spuriously trip the precision/
            // scale evolution gate against a correct (p,s) schema —
            // fall back to the raw TYPE_NAME (base-only comparison)
            // when the driver reports no scale (r20 advisor finding)
            if (rs.wasNull()) raw
            else {
              val halves = raw.trim.split("\\s+", 2)
              halves(0) + s"($p,$s)" +
                (if (halves.length > 1) " " + halves(1) else "")
            }
          } else raw
        out += ((rs.getString("COLUMN_NAME"), composed))
      }
      out.toSeq
    } finally rs.close()
  }

  /** `auto.evolve`-style DDL (reference: start-sink-connector.sh:68 —
    * evolution is how the Connect sink survives an upstream
    * `ALTER TABLE`): diff the changelog schema against the live table's
    * columns and emit one `ALTER TABLE … ADD <col> <type> NULL` per new
    * column. Additive only, the same contract as the Connect sink:
    *  - a new column must be nullable (a NOT NULL column with no default
    *    cannot be added to a populated table) — rejected loudly;
    *  - a type change on an existing column is rejected loudly (base
    *    type token compared, so metadata `NVARCHAR` matches our
    *    `NVARCHAR(MAX)`);
    *  - columns present in the table but absent from the schema are left
    *    alone (the MERGE simply doesn't touch them).
    * Name matching is case-insensitive (SQL Server's default collation).
    */
  def evolveTableSql(
      cfg: Config,
      existing: Seq[(String, String)],
      schema: StructType): Seq[String] = {
    import java.util.Locale
    val byName = existing.map { case (n, t) => n.toUpperCase(Locale.ROOT) -> t }.toMap
    // first token before any length spec: SQL Server metadata decorates
    // TYPE_NAME ("int identity") and omits lengths ("nvarchar"), so
    // "int identity" must still equal our "INT" and "nvarchar" our
    // "NVARCHAR(MAX)"
    def baseType(t: String): String =
      t.takeWhile(_ != '(').trim.split("\\s+").head.toUpperCase(Locale.ROOT)
    // the parenthesized (p,s) pair, when a type string carries one —
    // tableColumns composes it for live DECIMAL/NUMERIC columns
    def spec(t: String): Option[(Int, Int)] = {
      val i = t.indexOf('(')
      val j = t.indexOf(')', i)
      if (i < 0 || j < 0) None
      else {
        val inner = t.substring(i + 1, j).split(",").map(_.trim)
        try Some((inner(0).toInt, if (inner.length > 1) inner(1).toInt else 0))
        catch { case _: NumberFormatException => None }
      }
    }
    schema.fields.toSeq.flatMap { f =>
      byName.get(f.name.toUpperCase(Locale.ROOT)) match {
        case Some(have) =>
          val want = cfg.dialect.sqlType(f.dataType)
          if (baseType(have) != baseType(want))
            throw new IllegalArgumentException(
              s"auto.evolve cannot change column '${f.name}' of ${cfg.table} " +
                s"from $have to $want — evolution is additive only")
          // a DECIMAL precision/scale change is a type change too: with
          // only the base token compared, a widening to (20,4) over a
          // live (10,2) passed silently and overflowed at MERGE time
          // inside partition tasks (r20 review finding). Checked when
          // both sides expose a spec; a live name without one stays
          // base-only, as before.
          if (baseType(want) == "DECIMAL" || baseType(want) == "NUMERIC")
            (spec(have), spec(want)) match {
              case (Some(h), Some(w)) if h != w =>
                throw new IllegalArgumentException(
                  s"auto.evolve cannot change column '${f.name}' of ${cfg.table} " +
                    s"from $have to $want — evolution is additive only " +
                    "(precision/scale change)")
              case _ => ()
            }
          None
        case None =>
          if (!f.nullable)
            throw new IllegalArgumentException(
              s"auto.evolve can only add NULLable columns to ${cfg.table}; " +
                s"'${f.name}' is NOT NULL")
          Some(cfg.dialect.alterAddSql(cfg, f))
      }
    }
  }

  /** One-row MERGE keyed on the record key: upsert
    * (`insert.mode=upsert`, `pk.mode=record_key`), or the tombstone
    * handler's key-only delete when the row's deletion flag is bound
    * true (`delete.enabled=true`, TOMBSTONE_HANDLING_GUIDE.md:219-228);
    * shape and bind order are the dialect's ([[Dialect.mergeSql]] /
    * [[Dialect.mergeBindIndices]]). */
  def mergeSql(cfg: Config, schema: StructType): String =
    cfg.dialect.mergeSql(cfg, schema)

  /** The [[Dialect.mergeBindIndices]] entry of a deletion-flag slot. */
  val DeletionFlag: Int = -1

  // ---- batch mechanics --------------------------------------------------

  /** Reference retry policy: `op` attempted 1 + maxRetries times with a
    * fixed backoff (start-sink-connector.sh:79-80); rethrows the last
    * failure. `sleep` is injectable for tests; `onRetry` runs before each
    * backoff (the sink hooks a rollback here so servers that abort the
    * transaction after an error — e.g. an MSSQL deadlock victim — get a
    * clean transaction for the retry attempt).
    *
    * A lost connection is not retried: once a failure is a
    * `SQLNonTransientConnectionException` (SQLState class 08, e.g.
    * Derby's 08003 "No current connection" after a session-severity
    * error) or `connClosed` reports true, every further attempt would
    * fail at once, so the failure is rethrown without backoff, carrying
    * the previous attempt's failure as a suppressed exception. */
  def withRetries[T](
      maxRetries: Int,
      backoffMs: Long,
      sleep: Long => Unit = Thread.sleep,
      onRetry: () => Unit = () => (),
      connClosed: () => Boolean = () => false)(
      op: => T): T = {
    var attempt = 0
    var previous: Option[Exception] = None
    while (true) {
      try return op
      catch {
        case e: Exception =>
          attempt += 1
          val lost = e.isInstanceOf[SQLNonTransientConnectionException] || connClosed()
          if (attempt > maxRetries || lost) {
            previous.filter(_ ne e).foreach(e.addSuppressed)
            throw e
          }
          previous = Some(e)
          onRetry()
          sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Apply one partition's rows through a live connection: every row
    * to the one MERGE, its deletion flag bound from `isTombstone`,
    * flushing every `batchSize` rows and at the end with the retry
    * policy, one transaction per flush. Driver- and executor-callable;
    * the unit tests drive it with a proxy connection.
    *
    * Correctness details:
    *  - rows are BUFFERED until flush and re-bound on every retry
    *    attempt — JDBC drivers clear a statement's batch once
    *    `executeBatch` is invoked, so retrying the bare call would
    *    silently execute an empty batch and drop rows;
    *  - a deletion row binds its key columns and the flag, every other
    *    parameter NULL — the same values a key-only DELETE carries;
    *  - with `deleteEnabled = false` tombstones are dropped before they
    *    are buffered (`behavior.on.null.values=ignore`,
    *    start-sink-connector.sh:81).
    */
  def applyPartition(
      rows: Iterator[Row],
      schema: StructType,
      cfg: Config,
      isTombstone: Row => Boolean,
      conn: Connection,
      sleep: Long => Unit = Thread.sleep): Unit = {
    // Derby keeps MERGE execution state in the compiled plan, and its
    // statement cache shares one plan between connections that prepare
    // the same text: concurrent partitions then fail inside Derby
    // (NullPointerException in MatchingClauseConstantAction) or leave
    // wrong rows. A comment naming the task's partition gives each
    // concurrent partition its own plan; later batches still reuse it.
    val partitionTag =
      Option(org.apache.spark.TaskContext.get()).fold("")(t => s" /* partition ${t.partitionId} */")
    val merge = conn.prepareStatement(mergeSql(cfg, schema) + partitionTag)
    val slots = cfg.dialect.mergeBindIndices(cfg, schema).zipWithIndex
    val isKey = schema.fields.map(f => cfg.keyCols.contains(f.name))
    val pending = scala.collection.mutable.ArrayBuffer[(Row, Boolean)]()
    def bind(row: Row, deletion: Boolean): Unit =
      slots.foreach { case (fieldIdx, pos) =>
        val v =
          if (fieldIdx == DeletionFlag) java.lang.Boolean.valueOf(deletion)
          else if ((deletion && !isKey(fieldIdx)) || row.isNullAt(fieldIdx)) null
          else row.get(fieldIdx)
        merge.setObject(pos + 1, v)
      }
    // Roll back between attempts: servers that abort the transaction on
    // error (MSSQL deadlock victim) reject every statement until rollback,
    // so retrying on the dead transaction would exhaust retries pointlessly.
    val rollbackQuietly: () => Unit =
      () => try conn.rollback() catch { case _: Exception => () }
    def flush(): Unit =
      if (pending.nonEmpty) {
        // commit is INSIDE the retried block — a transient commit failure
        // re-binds and re-applies the batch (idempotent by key) instead of
        // aborting the task unretried.
        withRetries(cfg.maxRetries, cfg.retryBackoffMs, sleep, rollbackQuietly,
            () => conn.isClosed) {
          merge.clearBatch() // drop any half-added batch from a failed attempt
          pending.foreach { case (r, d) => bind(r, d); merge.addBatch() }
          merge.executeBatch()
          conn.commit()
        }
        pending.clear()
      }
    rows.foreach { row =>
      val deletion = isTombstone(row)
      if (cfg.deleteEnabled || !deletion) {
        pending += ((row, deletion))
        if (pending.size >= cfg.batchSize) flush()
      }
    }
    flush()
  }

  /** The driver-side DDL phase of one micro-batch: `auto.create` (C4/D9,
    * idempotent IF-guarded CREATE), then `auto.evolve` — diff the batch
    * schema against live metadata and apply any `ALTER TABLE … ADD`.
    * Because the diff is against the LIVE table, a mid-stream schema
    * widening emits its ALTER exactly once; every later batch sees the
    * column present and is a no-op. */
  def ensureTable(cfg: Config, schema: StructType, conn: Connection): Unit = {
    val st = conn.createStatement()
    try {
      // dialects whose CREATE embeds its own guard (T-SQL IF OBJECT_ID)
      // execute unconditionally; the rest (Derby has no IF-NOT-EXISTS)
      // consult live metadata first — same observable idempotence
      if (cfg.autoCreate &&
          (cfg.dialect.guardedCreate || tableColumns(conn, cfg.table).isEmpty)) {
        st.execute(createTableSql(cfg, schema)); conn.commit()
      }
      if (cfg.autoEvolve) {
        val existing = tableColumns(conn, cfg.table)
        // an absent table means autoCreate=false and nothing to evolve —
        // the MERGE will fail loudly on its own
        val alters =
          if (existing.isEmpty) Nil else evolveTableSql(cfg, existing, schema)
        if (alters.nonEmpty) { alters.foreach(st.execute); conn.commit() }
      }
    } finally st.close()
  }

  /** The foreachBatch sink: wire into
    * [[graft.streaming.ChangelogStream.emitChanges]]. `connect` must be a
    * serializable closure (DriverManager URL + properties), one connection
    * per partition. Auto-create and auto-evolve DDL run ONCE per batch,
    * driver-side, before the partitions fan out — the IF-guard + CREATE
    * pair is not atomic, so concurrent per-partition creation would race
    * on a cold start. Evolution diffs against live metadata each batch, so
    * a mid-stream schema widening emits its ALTER exactly once and is a
    * no-op on every later batch. */
  def sink(
      cfg: Config,
      isTombstone: Row => Boolean,
      connect: () => Connection): (DataFrame, Long) => Unit = { (df, _) =>
    val schema = df.schema
    // Roll back any residual open transaction before close: all real
    // work commits explicitly, but metadata reads and statement
    // preparation open a transaction too, and strict engines (Derby)
    // refuse to close a connection while one is active — found by
    // executing this path against a real database, not a proxy.
    def closeClean(conn: Connection): Unit = {
      try conn.rollback() catch { case _: Exception => () }
      conn.close()
    }
    if (cfg.autoCreate || cfg.autoEvolve) {
      val conn = connect()
      try {
        conn.setAutoCommit(false)
        ensureTable(cfg, schema, conn)
      } finally closeClean(conn)
    }
    df.foreachPartition { rows: Iterator[Row] =>
      val conn = connect()
      try {
        conn.setAutoCommit(false)
        applyPartition(rows, schema, cfg, isTombstone, conn)
      } finally closeClean(conn)
    }
  }
}
