package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.etl.{Coerce, Dedup}
import graft.model.EventSchema._

/** Abstract warehouse surface (reference seghouse/warehouse/warehouse.py:
  * 1-60) and the ONE load protocol every sink shares: evolve the DDL,
  * coerce to the table schema, quarantine misfits, then write (reference
  * clickhouse.py:193-233). Implementations supply only storage
  * primitives: parquet lakehouse ([[WarehouseSink]]), JDBC
  * ([[JdbcWarehouse]]) and ClickHouse ([[ClickHouseWarehouse]]). The job
  * layer fans every batch out to all configured warehouses (O-34). */
trait Warehouse {
  def createDatabase(db: String): Unit

  /** CREATE TABLE `db.t` if absent, then evolve it append-only to cover
    * `batchSchema` (O-27/O-30). Returns the post-evolution authoritative
    * schema. DDL only: it also serves the O-35 quirk, where the reference
    * ensures the groups/aliases tables' structure and then inserts those
    * rows into `identities` (send_to_warehouse.py:273-296). */
  def ensureTableStructure(db: String, t: String, batchSchema: StructType): StructType

  def read(spark: SparkSession, db: String, t: String): DataFrame

  /** Append rows already aligned to the table schema. */
  protected def append(db: String, t: String, rows: DataFrame): Unit

  /** Atomically replace every row of `db.t` with `rows`: a crash never
    * leaves the table truncated. */
  protected def replace(spark: SparkSession, db: String, t: String, rows: DataFrame): Unit

  /** O-31: insert one batch into `db.t`. The table schema is
    * authoritative; `ddlSchema` overrides the batch schema for creation
    * and evolution (first-non-null inference). Coercion failures go to
    * the misfits table (O-19/O-32). Returns the misfit row count. */
  def insertDf(
      spark: SparkSession,
      db: String,
      t: String,
      batch: DataFrame,
      ddlSchema: Option[StructType] = None
  ): Long = {
    val authoritative = ensureTableStructure(db, t, ddlSchema.getOrElse(batch.schema))
    val result        = Coerce.coerce(batch, authoritative, t)
    try {
      val misfits = writeMisfits(db, result.misfits)
      append(db, t, result.main)
      misfits
    } finally result.unpersist()
  }

  /** O-21/O-28: the users upsert — users rows from identities, coerced to
    * the users table with misfits quarantined, then merged
    * last-write-wins by `ver`. */
  def upsertUsers(spark: SparkSession, db: String, identities: DataFrame): Unit = {
    val incoming      = Dedup.usersFromIdentities(identities)
    val authoritative = ensureTableStructure(db, UsersTable, incoming.schema)
    val result        = Coerce.coerce(incoming, authoritative, UsersTable)
    try {
      writeMisfits(db, result.misfits)
      mergeUsers(spark, db, authoritative, result.main)
    } finally result.unpersist()
  }

  /** The ReplacingMergeTree(ver) equivalent for engines without one: read
    * current users ∪ incoming, keep the max-`ver` row per user_id,
    * atomically replace. The users table is bounded by |distinct users|,
    * so read-merge-replace per batch is the right trade (SURVEY §7.3 hard
    * part 2). */
  protected def mergeUsers(spark: SparkSession, db: String, authoritative: StructType,
      incoming: DataFrame): Unit = {
    val existing = Coerce.coerce(Coerce.addMissingColumns(read(spark, db, UsersTable), authoritative),
      authoritative, UsersTable, persistIntermediate = false).main
    val winners = Dedup.lastWriteWins(existing.unionByName(incoming, allowMissingColumns = true),
      Seq(UserId), Ver, Seq(col(MessageId).desc))
    replace(spark, db, UsersTable, winners)
  }

  /** O-32: lazy-create and append the misfits dead-letter table, deduped
    * on its CH sort key first (O-23). Returns the rows written. */
  private def writeMisfits(db: String, misfits: DataFrame): Long = {
    val deduped = Dedup.dedupMisfits(misfits).persist()
    try {
      val n = deduped.count()
      if (n > 0) {
        ensureTableStructure(db, MisfitsTable, deduped.schema)
        append(db, MisfitsTable, deduped)
      }
      n
    } finally { deduped.unpersist(); () }
  }
}

/** Reference seghouse/warehouse/factory.py:4-13. */
object WarehouseFactory {
  def parquet(root: String): Warehouse = new WarehouseSink(new TableCatalog(root))
  def jdbc(url: String, props: Map[String, String] = Map.empty): Warehouse =
    new JdbcWarehouse(url, props)

  /** Typed-dict dispatch — the config-file path (factory.py:4-8 plus the
    * connection keys ClickHouse reads, clickhouse.py:43-48). Two extra
    * types beyond the reference ("parquet" lakehouse, generic "jdbc")
    * cover this engine's native sinks. */
  def fromConf(conf: Map[String, String]): Warehouse = {
    def req(k: String): String = conf.getOrElse(k,
      throw new IllegalArgumentException(s"warehouse conf needs '$k': $conf"))
    conf.getOrElse("type", "") match {
      case "clickhouse" =>
        // the reference defaults to 9000 (clickhouse.py:44) for its NATIVE
        // protocol client; this sink speaks JDBC-over-HTTP, whose server
        // port is 8123 — porting 9000 unchanged would break every config
        // that omits the port
        val port = conf.getOrElse("port", "8123")
        val props = Map("user" -> req("user"), "password" -> req("password"))
        new ClickHouseWarehouse(
          s"jdbc:clickhouse://${req("host")}:$port", props, conf.get("cluster"))
      case "parquet" => parquet(req("root"))
      case "jdbc"    => jdbc(req("url"), conf - "type" - "url")
      case other => throw new IllegalArgumentException(
        s"Unable to get warehouse of type $other") // factory.py:8 message
    }
  }
}
