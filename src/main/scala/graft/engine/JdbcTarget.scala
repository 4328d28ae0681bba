package graft.engine

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Types}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Keyed SQL table over JDBC — the reference's relational table-target
  * transport (python/cocoindex/connectors/postgres/_target.py:1468
  * `mount_table_target`, row reconcile `:850-881`, batched multi-row
  * upserts `:769-791`, batched deletes `:813-836`, idempotent SQL
  * attachments `:1362`) realized against a real SQL engine:
  *
  *   - managed DDL: the observed table shape is read back from JDBC
  *     metadata and reconciled against the desired schema — CREATE
  *     TABLE when absent, ALTER TABLE ADD for new columns, DROP+ADD
  *     for a changed column type (the statediff Lossy transition: the
  *     engine bumps the schema version so every item re-upserts and
  *     refills the rebuilt column in the same apply);
  *   - batched convergent upserts: single-statement `MERGE INTO`
  *     per row, executed in JDBC batches chunk-by-chunk with
  *     lock-conflict retry — re-applying the same delta after a crash
  *     converges (at-least-once, roll-forward);
  *   - batched `DELETE` by key, same chunking;
  *   - `sqlAttachments`: arbitrary idempotent DDL run after the table
  *     exists (the reference's `declare_sql_command_attachment` /
  *     `declare_vector_index` slot — e.g. `CREATE INDEX`), with
  *     "already exists" tolerated so reruns converge.
  *
  * Tested against embedded Apache Derby (ships in the Spark jars;
  * supports `MERGE` since 10.11). The embedded URL only reaches a
  * same-JVM store — right for local[n]; on a cluster the url points at
  * a network server (Derby client, postgres, …) and the same code
  * drives it, each executor holding its own pooled connection.
  *
  * Writes happen executor-side (`foreachPartition`), never through the
  * driver; `writePartitions` bounds sink concurrency the way the
  * reference bounds per-sink batch concurrency. Vector columns
  * (`ARRAY<FLOAT>`) are stored as float32-LE BLOBs — decode on read
  * with [[JdbcTableTarget.floatVectorFromBinary]].
  */
final case class JdbcTableTarget(url: String, table: String,
    sqlAttachments: Seq[String] = Nil,
    /** Engine-reconciled attachments (full create/change/remove
      * lifecycle, reference declare_sql_command_attachment);
      * `sqlAttachments` above is the legacy run-always form. */
    override val attachments: Seq[TargetAttachment] = Nil,
    writePartitions: Int = 4, batchSize: Int = 256,
    /** Store-specific statement shapes ([[SqlDialect]]): Derby is the
      * executed-in-tests default; Postgres/Sqlite/Snowflake/BigQuery/
      * Doris generate their reference connectors' exact SQL through
      * the same engine machinery. */
    dialect: SqlDialect = SqlDialect.Derby)
    extends WireTarget {

  import JdbcTableTarget._

  private def qi(ident: String): String = dialect.q(ident)

  /** Container identity = the store + table + PK signature (the
    * reference's main tracking record, postgres/_target.py:930-947).
    * Value columns are NOT identity — they reconcile in place via
    * ALTER (the sub-records). */
  override def containerSignature: String =
    s"jdbc;url=$url;table=$table;pk=row_key"

  override def truncate(spark: SparkSession): Unit =
    withConn { conn =>
      execIgnoring(conn, s"DROP TABLE ${qi(table)}",
        dialect.ddlMissingStates) // no such table — already converged
    }

  override def execAttachmentSql(spark: SparkSession, sql: String,
      tolerateMissing: Boolean): Unit =
    withConn { conn =>
      execIgnoring(conn, sql,
        if (tolerateMissing) // teardown: object may already be gone
          dialect.ddlExistsStates ++ dialect.ddlMissingStates
        else dialect.ddlExistsStates) // setup: missing container is real
    }

  /** getTables/getColumns take the table name as a LIKE pattern, so a
    * '_' in the name (e.g. `doc_chunks`) matches any character and a
    * similarly-named sibling (`docXchunks`) would pollute the observed
    * shape — silently skipping an ALTER ADD and failing the MERGE
    * later. Rows are filtered on EXACT name equality instead of
    * trusting the pattern. */
  private def exists(conn: Connection): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, table, null)
    try {
      while (rs.next())
        if (rs.getString("TABLE_NAME") == table) return true
      false
    } finally rs.close()
  }

  /** Observed column shape: name → rendered type (metadata is the
    * "previously observed tracking record" — the store itself is the
    * source of truth, so a crash between DDL and commit re-observes
    * and converges). Precision/scale are folded in for the types where
    * they matter (VARCHAR length, DECIMAL precision/scale), so a
    * declared `DECIMAL(10,2)` → `DECIMAL(12,2)` change triggers the
    * lossy rebuild instead of silently overflowing the stale column. */
  private def observedColumns(conn: Connection): Map[String, String] = {
    val rs = conn.getMetaData.getColumns(null, null, table, null)
    val b = Map.newBuilder[String, String]
    try while (rs.next()) {
      if (rs.getString("TABLE_NAME") == table)
        b += rs.getString("COLUMN_NAME") -> renderObserved(
          rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE"),
          rs.getInt("DECIMAL_DIGITS"))
    } finally rs.close()
    b.result()
  }

  /** CREATE/ALTER the physical table toward `schema` (row_key +
    * value columns). Extra observed columns are kept, not dropped — a
    * deletion-only apply sees a key-only schema and must not destroy
    * payload columns (same stance as the parquet target's
    * allowMissingColumns union). */
  private def ensureTable(conn: Connection, schema: StructType,
      existing: Boolean): Unit = {
    val valueCols = schema.fields.filter(_.name != RowKey)
    if (!existing) {
      val ddl = dialect.createTableSql(table, RowKey, KeyLen,
        valueCols.toSeq.map(f => f.name -> dialect.sqlType(f.dataType)))
      execIgnoring(conn, ddl, dialect.ddlExistsStates) // concurrent creator won
    } else {
      val observed = observedColumns(conn)
      valueCols.foreach { f =>
        val want = dialect.sqlType(f.dataType)
        observed.get(f.name) match {
          case None =>
            execIgnoring(conn,
              s"ALTER TABLE ${qi(table)} ADD COLUMN ${qi(f.name)} $want",
              dialect.ddlExistsStates)
          case Some(have) if !typeMatches(have, want) =>
            // lossy column rebuild (statediff Replace on the
            // sub-record): the engine's schema-version bump makes
            // every item re-upsert, so the emptied column refills
            // within this same apply
            exec(conn, s"ALTER TABLE ${qi(table)} DROP COLUMN ${qi(f.name)}")
            exec(conn, s"ALTER TABLE ${qi(table)} ADD COLUMN ${qi(f.name)} $want")
          case _ => ()
        }
      }
    }
    sqlAttachments.foreach(execIgnoring(conn, _, dialect.ddlExistsStates))
  }

  protected type Conn = Connection
  protected type Container = Unit

  protected def connect(): Connection = DriverManager.getConnection(url)

  // see SqlDialect.concurrentWriters — stores whose engine can't take
  // concurrent writer connections (embedded Derby) serialize
  override protected def writerTasks: Int =
    if (dialect.concurrentWriters) writePartitions else 1

  protected def observe(conn: Connection): Option[Unit] =
    if (exists(conn)) Some(()) else None

  protected def prepare(conn: Connection, schema: StructType,
      existing: Option[Unit]): WireWriter[Connection] = {
    ensureTable(conn, schema, existing.isDefined)
    val (bs, dia) = (batchSize, dialect)
    val valueFields = schema.fields.filter(_.name != RowKey).toSeq
    val keyIdx = schema.fieldIndex(RowKey)
    val merge = dia.upsertSql(table, KeyLen, valueFields.map(_.name))
    val delSql = dia.deleteSql(table, RowKey)
    val reps = if (dia.bindTwice) 2 else 1
    WireWriter(
      upsert = (conn, rows) =>
        writeChunked(conn, merge, rows, bs, dia) { (ps, row) =>
          // the (key, values…) tuple, bound once or twice per the
          // dialect's statement shape
          var i = 1
          (0 until reps).foreach { _ =>
            ps.setString(i, row.getString(keyIdx)); i += 1
            valueFields.foreach { f =>
              bind(ps, i, f.dataType, row, schema.fieldIndex(f.name))
              i += 1
            }
          }
        },
      delete = (conn, keys) =>
        writeChunked(conn, delSql, keys, bs, dia)(_.setString(1, _)))
  }

  /** Read back through Spark's JDBC source (single partition by
    * default — pass partitioning options at the call site for large
    * tables; correctness reads here are dimension-sized). */
  def read(spark: SparkSession): DataFrame = {
    val present = withConn(exists)
    if (!present)
      throw new IllegalStateException(s"jdbc target $table not yet written")
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", qi(table))
      .load()
  }
}

object JdbcTableTarget {
  val RowKey = "row_key"
  /** PK columns need an index; Derby's key length is bounded, and the
    * engine's row keys are short structured ids. */
  val KeyLen = 1024
  // keep Derby's log out of the working directory
  System.setProperty("derby.stream.error.file",
    new java.io.File(System.getProperty("java.io.tmpdir"), "derby.log")
      .getAbsolutePath)

  /** Embedded-Derby URL for a filesystem path. */
  def derbyUrl(dbDir: String): String = s"jdbc:derby:$dbDir;create=true"

  private[engine] def withConnection[T](url: String)(f: Connection => T): T = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private[engine] def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try { st.execute(sql); () } finally st.close()
  }

  private[engine] def execIgnoring(conn: Connection, sql: String,
      okStates: Set[String]): Unit =
    try exec(conn, sql)
    catch {
      case e: SQLException if okStates.contains(e.getSQLState) => ()
    }

  /** Metadata TYPE_NAME + COLUMN_SIZE/DECIMAL_DIGITS → comparable
    * rendered type. Only VARCHAR and DECIMAL carry meaningful
    * precision (Derby reports a COLUMN_SIZE for every type — e.g. 10
    * for INTEGER — which must NOT leak into the comparison). */
  private def renderObserved(typeName: String, size: Int,
      digits: Int): String =
    typeName.toUpperCase.takeWhile(_ != ' ') match {
      case "VARCHAR" => s"VARCHAR($size)"
      case "DECIMAL" | "NUMERIC" => s"DECIMAL($size,$digits)"
      case base => base
    }

  /** Store-alias canonicalization so an observed metadata name and a
    * dialect's declared DDL spelling compare equal: NUMERIC ≡ DECIMAL,
    * postgres's DOUBLE PRECISION/FLOAT8 ≡ DOUBLE, TEXT ≡ VARCHAR,
    * TIMESTAMPTZ ≡ TIMESTAMP, BYTEA ≡ BLOB. Without this a
    * non-Derby dialect would see e.g. declared `NUMERIC(12,2)` vs
    * observed `DECIMAL(12,2)` and run the destructive column rebuild
    * on EVERY apply. */
  private def canonicalBase(base: String): String = base match {
    case "NUMERIC" => "DECIMAL"
    case "DOUBLEPRECISION" | "FLOAT8" => "DOUBLE"
    case "TEXT" | "STRING" => "VARCHAR"
    case "TIMESTAMPTZ" | "TIMESTAMP_TZ" | "TIMESTAMPWITHTIMEZONE" =>
      "TIMESTAMP"
    case "BYTEA" | "BYTES" | "BINARY" => "BLOB"
    case "INT64" => "BIGINT"
    case "FLOAT64" => "DOUBLE"
    case "BOOL" => "BOOLEAN"
    case other => other
  }

  /** Observed (rendered) type vs our DDL type: full comparison incl.
    * precision/scale for VARCHAR/DECIMAL (so a precision widening
    * plans the rebuild the engine's Lossy transition expects),
    * alias-canonicalized base name for everything else. */
  private def typeMatches(observed: String, declared: String): Boolean = {
    val d = declared.toUpperCase.replace(" ", "")
    val o = observed.toUpperCase.replace(" ", "")
    val dBase = canonicalBase(d.takeWhile(_ != '('))
    val oBase = canonicalBase(o.takeWhile(_ != '('))
    if (dBase == "VARCHAR" || dBase == "DECIMAL") {
      val dArgs = d.dropWhile(_ != '(')
      val oArgs = o.dropWhile(_ != '(')
      // an argument-less spelling (postgres TEXT, sqlite NUMERIC)
      // matches any precision of the same base — the store chose the
      // representation, there is nothing to widen
      dBase == oBase && (dArgs.isEmpty || oArgs.isEmpty || dArgs == oArgs)
    } else oBase == dBase
  }

  private def jdbcTypeOf(dt: DataType): Int = dt match {
    case StringType => Types.VARCHAR
    case IntegerType => Types.INTEGER
    case LongType => Types.BIGINT
    case ShortType => Types.SMALLINT
    case DoubleType => Types.DOUBLE
    case FloatType => Types.REAL
    case BooleanType => Types.BOOLEAN
    case BinaryType => Types.BLOB
    case TimestampType => Types.TIMESTAMP
    case DateType => Types.DATE
    case _: DecimalType => Types.DECIMAL
    case ArrayType(FloatType, _) => Types.BLOB
    case other =>
      throw new IllegalArgumentException(s"unsupported bind type $other")
  }

  private def bind(ps: PreparedStatement, idx: Int, dt: DataType,
      row: Row, field: Int): Unit =
    if (row.isNullAt(field)) ps.setNull(idx, jdbcTypeOf(dt))
    else dt match {
      case StringType => ps.setString(idx, row.getString(field))
      case IntegerType => ps.setInt(idx, row.getInt(field))
      case LongType => ps.setLong(idx, row.getLong(field))
      case ShortType => ps.setShort(idx, row.getShort(field))
      case DoubleType => ps.setDouble(idx, row.getDouble(field))
      case FloatType => ps.setFloat(idx, row.getFloat(field))
      case BooleanType => ps.setBoolean(idx, row.getBoolean(field))
      case BinaryType => ps.setBytes(idx, row.getAs[Array[Byte]](field))
      case TimestampType =>
        // bind through an explicit UTC calendar: without it the wall
        // clock is encoded in the executor JVM's default timezone,
        // which drifts between writers on a cluster with mixed
        // executor TZs (the Spark-SQL session TZ does not reach raw
        // JDBC binds)
        ps.setTimestamp(idx, row.getTimestamp(field), utcCalendar())
      case DateType => ps.setDate(idx, row.getDate(field))
      case _: DecimalType => ps.setBigDecimal(idx, row.getDecimal(field))
      case ArrayType(FloatType, _) =>
        ps.setBytes(idx, encodeFloats(row.getSeq[Float](field)))
      case other =>
        throw new IllegalArgumentException(s"unsupported bind type $other")
    }

  /** Calendar is mutable and not thread-safe — one per thread. */
  private val utcCal =
    ThreadLocal.withInitial[java.util.Calendar](() =>
      java.util.Calendar.getInstance(
        java.util.TimeZone.getTimeZone("UTC")))
  private[engine] def utcCalendar(): java.util.Calendar = utcCal.get()

  private[engine] def encodeFloats(v: Seq[Float]): Array[Byte] =
    Float32LE.encode(v)

  private[engine] def decodeFloats(b: Array[Byte]): Array[Float] =
    Float32LE.decode(b)

  /** Decode a float32-LE BLOB column back to `ARRAY<FLOAT>` (readback
    * side of the vector mapping). UDF is fine here: readback is a
    * serving-path decode, not a corpus-scan hot path. */
  def floatVectorFromBinary(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val f = udf((b: Array[Byte]) => if (b == null) null else decodeFloats(b))
    f(c)
  }

  /** Items → fixed-size chunks → one JDBC batch per chunk over `conn`,
    * with rebind-and-retry on the dialect's lock-conflict states (Derby
    * 40001 deadlock / 40XL1 lock timeout; postgres 40001/40P01/55P03):
    * the chunk is the retry unit, so a batch that died mid-flight
    * re-executes its upserts idempotently. Every chunk commits, so the
    * connection leaves with no open transaction. */
  private def writeChunked[A](conn: Connection, sql: String,
      items: Iterator[A], batchSize: Int, dialect: SqlDialect)
      (bindItem: (PreparedStatement, A) => Unit): Unit = {
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(sql)
    try items.grouped(batchSize).foreach { chunk =>
      var attempt = 0
      var done = false
      while (!done) {
        try {
          chunk.foreach { r => bindItem(ps, r); ps.addBatch() }
          ps.executeBatch()
          conn.commit()
          done = true
        } catch {
          // lock conflicts AND duplicate-key aborts both retry: a
          // MERGE that lost a race to a concurrent committer finds
          // the row WHEN MATCHED on the rerun and updates it — the
          // convergent-upsert contract (belt-and-braces; key-hashed
          // write partitioning already serializes same-key writes)
          case e: SQLException
              if (retriableState(e, dialect.retriableStates) ||
                retriableState(e, DuplicateKeyStates)) &&
                attempt < MaxRetries =>
            conn.rollback()
            ps.clearBatch()
            attempt += 1
            Thread.sleep(50L << attempt)
        }
      }
    } catch {
      // roll back the open transaction before the connection
      // closes: Derby refuses to close mid-transaction, and that
      // secondary error would MASK the real failure (first seen as
      // q81 "Cannot close a connection while a transaction is
      // still active" hiding the actual batch exception)
      case t: Throwable =>
        try conn.rollback()
        catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    } finally ps.close()
  }

  private val MaxRetries = 5
  /** SQLSTATE 23505: unique/PK violation — retriable for convergent
    * MERGE upserts (see writeChunked). */
  private val DuplicateKeyStates = Set("23505")

  private[engine] def retriableState(e: SQLException): Boolean =
    retriableState(e, SqlDialect.Derby.retriableStates)

  private[engine] def retriableState(e: SQLException,
      states: Set[String]): Boolean = {
    var cur: SQLException = e
    // executeBatch failures surface as BatchUpdateException wrapping
    // the real state; walk the chain
    while (cur != null) {
      if (states.contains(cur.getSQLState)) return true
      cur = cur.getNextException
    }
    false
  }
}
