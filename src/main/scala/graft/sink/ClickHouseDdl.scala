package graft.sink

import org.apache.spark.sql.types._

import graft.model.EventSchema._

/** ClickHouse DDL generation — the exact statement surface the reference
  * drives (seghouse/warehouse/clickhouse.py):
  *
  *  - create_schema            :59-66   CREATE DATABASE IF NOT EXISTS
  *  - create_table             :69-93   Nullable-wrapped columns,
  *    ReplacingMergeTree(), PARTITION BY toDate(timestamp),
  *    ORDER BY (timestamp, message_id)
  *  - create_users_table       :95-123  ReplacingMergeTree(ver),
  *    ORDER BY (user_id), no partition
  *  - misfits table            :222-233 ReplacingMergeTree(),
  *    ORDER BY (message_id, table_name, column_name)
  *  - add_column               :185-191 ALTER TABLE ... ADD COLUMN IF NOT EXISTS
  *  - describe                 :137-144 DESCRIBE TABLE
  *
  * Type mapping mirrors seghouse_type_to_ch_type (clickhouse.py:16-32);
  * the generator is pure (string out), so it is fully unit-testable with
  * no ClickHouse in the environment, and `ClickHouseWarehouse` wires it
  * into the JDBC sink for a live deployment.
  */
object ClickHouseDdl {

  /** Spark type -> ClickHouse type (clickhouse.py:16-32 equivalences). */
  def chType(dt: DataType): String = dt match {
    case StringType     => "String"
    case LongType       => "Int64"
    case IntegerType    => "Int32"
    case ShortType      => "Int16"
    case ByteType       => "Int8"
    case DoubleType     => "Float64"
    case FloatType      => "Float32"
    case BooleanType    => "UInt8"   // CH boolean convention (clickhouse.py:29)
    case TimestampType  => "DateTime"
    case DateType       => "Date"
    case d: DecimalType => s"Decimal(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"no ClickHouse mapping for ${other.simpleString}")
  }

  /** Backtick-quote an identifier, escaping embedded backslashes and
    * backticks. JSON-derived keys are only cleaned of spaces/':'/'-'
    * upstream (Names.cleanEventKey), so anything else a key carries would
    * otherwise yield invalid or injectable DDL — the reference has the
    * same f-string flaw (clickhouse.py:69-93); the JDBC sibling quotes,
    * and this dialect now does too. */
  def q(ident: String): String =
    "`" + ident.replace("\\", "\\\\").replace("`", "\\`") + "`"

  private def columnSql(f: StructField, nonNull: Set[String]): String = {
    val t = chType(f.dataType)
    // every column Nullable except the non-null set (clickhouse.py:78-80,125-134)
    if (nonNull(f.name)) s"${q(f.name)} $t" else s"${q(f.name)} Nullable($t)"
  }

  /** `cluster` (clickhouse.py:38,48) appends ON CLUSTER exactly as
    * create_schema does (clickhouse.py:62-63); the reference's table DDL
    * refuses a cluster ("not yet implemented", clickhouse.py:74-75) and
    * [[ClickHouseWarehouse]] preserves that refusal. */
  def createDatabase(schema: String, cluster: Option[String] = None): String = {
    val base = s"CREATE DATABASE IF NOT EXISTS ${q(schema)}"
    cluster.fold(base)(c => s"$base ON CLUSTER ${q(c)}")
  }

  /** Event-table DDL: dedup + layout exactly as the reference delegates to
    * MergeTree (O-22/O-24/O-25). */
  def createTable(schema: String, table: String, cols: StructType,
      nonNullColumns: Seq[String]): String = {
    val body = cols.fields.map(columnSql(_, nonNullColumns.toSet)).mkString(", ")
    s"CREATE TABLE IF NOT EXISTS ${q(schema)}.${q(table)} ($body) " +
      "ENGINE = ReplacingMergeTree() " +
      s"PARTITION BY toDate(${q(Timestamp)}) " +
      s"ORDER BY (${q(Timestamp)}, ${q(MessageId)})"
  }

  /** Users-table DDL: last-write-wins by ver (O-21/O-28). */
  def createUsersTable(schema: String, cols: StructType,
      nonNullColumns: Seq[String]): String = {
    val nn = (nonNullColumns ++ UsersNonNull).toSet
    val body = cols.fields.map(columnSql(_, nn)).mkString(", ")
    s"CREATE TABLE IF NOT EXISTS ${q(schema)}.${q(UsersTable)} ($body) " +
      s"ENGINE = ReplacingMergeTree(${q(Ver)}) " +
      s"ORDER BY (${q(UserId)})"
  }

  /** Misfits-table DDL (O-23/O-32). */
  def createMisfitsTable(schema: String): String = {
    val body = MisfitSchema.fields
      .map(f => s"${q(f.name)} Nullable(${chType(f.dataType)})").mkString(", ")
    s"CREATE TABLE IF NOT EXISTS ${q(schema)}.${q(MisfitsTable)} ($body) " +
      "ENGINE = ReplacingMergeTree() " +
      s"ORDER BY (${q(MessageId)}, ${q("table_name")}, ${q("column_name")})"
  }

  /** Append-only evolution (O-30). New columns are always Nullable. */
  def addColumn(schema: String, table: String, f: StructField): String =
    s"ALTER TABLE ${q(schema)}.${q(table)} ADD COLUMN IF NOT EXISTS ${q(f.name)} Nullable(${chType(f.dataType)})"

  def describeTable(schema: String, table: String): String =
    s"DESCRIBE TABLE ${q(schema)}.${q(table)}"

  /** CH type string -> Spark type (read-back, clickhouse.py:146-183).
    * Mirrors the reference's substring matching, including the documented
    * quirk that booleans stored as UInt8 read back as integers. */
  def sparkType(ch: String): DataType = {
    val base = ch.stripPrefix("Nullable(").stripSuffix(")")
    base match {
      case "String"   => StringType
      case "Int8"     => ByteType
      case "Int16"    => ShortType
      case "Int32"    => IntegerType
      case "Int64"    => LongType
      case "UInt8" | "UInt16" => IntegerType  // boolean quirk: UInt8 -> int
      case "UInt32" | "UInt64" => LongType
      case "Int128" | "Int256" | "UInt256" => DecimalType(38, 0) // documented narrowing
      case "Float32"  => FloatType
      case "Float64"  => DoubleType
      case "Date"     => DateType
      case "DateTime" => TimestampType
      case d if d.startsWith("Decimal(") =>
        val Array(p, s) = d.stripPrefix("Decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalArgumentException(s"unmapped ClickHouse type $other")
    }
  }
}

/** JDBC warehouse speaking the reference's ClickHouse protocol: every DDL
  * statement comes from [[ClickHouseDdl]] (CREATE DATABASE IF NOT EXISTS,
  * MergeTree CREATE TABLE with ENGINE/PARTITION BY/ORDER BY, DESCRIBE
  * TABLE, ALTER TABLE ADD COLUMN IF NOT EXISTS — clickhouse.py:59-233);
  * the data path is the distributed JDBC writer inherited from
  * [[JdbcWarehouse]].
  *
  * No ClickHouse server or driver exists in this environment, so the
  * statement SEQUENCE is validated by ClickHouseProtocolSpec against a
  * recording fake connection (the `connect()` hook), and the statement
  * SHAPES by ClickHouseDdlSpec against the reference's f-strings. */
class ClickHouseWarehouse(
    url: String,
    extraProps: Map[String, String] = Map.empty,
    cluster: Option[String] = None
) extends JdbcWarehouse(url, extraProps) {

  import java.sql.SQLException
  import scala.collection.mutable
  import scala.util.Using
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.col
  import graft.etl.Dedup

  // ClickHouse identifiers are case-sensitive; the reference passes the
  // schema name through untouched (clickhouse.py:61)
  override protected def dbName(db: String): String = db
  override protected def q(ident: String): String = ClickHouseDdl.q(ident)

  private def exec(sql: String): Unit = withConn { c =>
    Using.resource(c.createStatement())(_.executeUpdate(sql)); ()
  }

  /** CREATE DATABASE IF NOT EXISTS — idempotent, no metadata probe
    * (create_schema, clickhouse.py:59-66; ON CLUSTER when configured,
    * :62-63). */
  override def createDatabase(db: String): Unit =
    exec(ClickHouseDdl.createDatabase(db, cluster))

  /** Table-kind dispatch to the reference's three DDL shapes
    * (clickhouse.py:69-93, :95-123, :222-233). */
  override protected def createTableSql(db: String, t: String, batchSchema: StructType): String = {
    // the reference refuses clustered table DDL (clickhouse.py:74-75,101-102)
    if (cluster.isDefined)
      throw new UnsupportedOperationException("ClickHouse cluster is not yet implemented")
    t match {
      case UsersTable   => ClickHouseDdl.createUsersTable(db, batchSchema, UsersNonNull)
      case MisfitsTable => ClickHouseDdl.createMisfitsTable(db)
      case _            => ClickHouseDdl.createTable(db, t, batchSchema, NonNullColumns)
    }
  }

  override protected def addColumnSql(db: String, t: String, f: StructField): String =
    ClickHouseDdl.addColumn(db, t, f)

  /** DESCRIBE TABLE (describe_table, clickhouse.py:137-144) instead of
    * JDBC metadata — a missing table raises UNKNOWN_TABLE, which maps to
    * None (= create it). ONLY that error maps to None: a transient
    * connection/auth failure must propagate, or evolution would silently
    * run against the batch schema instead of the table's. */
  override def describe(db: String, t: String): Option[StructType] =
    try withConn { c =>
      val cols = mutable.ArrayBuffer[StructField]()
      Using.resource(c.createStatement()) { st =>
        Using.resource(st.executeQuery(ClickHouseDdl.describeTable(db, t))) { rs =>
          while (rs.next())
            cols += StructField(rs.getString(1), ClickHouseDdl.sparkType(rs.getString(2)))
        }
      }
      if (cols.isEmpty) None else Some(StructType(cols.toSeq))
    } catch {
      case e: SQLException if isUnknownTable(e) => None
    }

  /** ClickHouse UNKNOWN_TABLE is server error code 60; message shapes vary
    * by driver version ("UNKNOWN_TABLE", "Table x.y doesn't exist"). The
    * message match requires the "Table" prefix so UNKNOWN_DATABASE (81) /
    * auth errors — whose messages also say "doesn't exist" — propagate. */
  private def isUnknownTable(e: SQLException): Boolean = {
    val msg = Option(e.getMessage).getOrElse("")
    e.getErrorCode == 60 || msg.contains("UNKNOWN_TABLE") ||
      "Table .{0,200}(doesn't|does not) exist".r.findFirstIn(msg).isDefined
  }

  /** Users merge, ClickHouse-style: dedupe the batch to per-user winners
    * and INSERT — ReplacingMergeTree(ver) resolves versions server-side
    * (clickhouse.py:95-123), so there is no read-back, no truncate, and no
    * staging swap (those are the shared protocol's compensations for
    * engines without versioned replacement). */
  override protected def mergeUsers(spark: SparkSession, db: String,
      authoritative: StructType, incoming: DataFrame): Unit =
    append(db, UsersTable,
      Dedup.lastWriteWins(incoming, Seq(UserId), Ver, Seq(col(MessageId).desc)))
}
