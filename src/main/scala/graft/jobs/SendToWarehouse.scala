package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.etl.{Normalize, TypeInference, TypeSplit}
import graft.ingest.{JsonFlatten, Readers}
import graft.model.EventSchema._
import graft.util.Names

/** Job configuration (reference seghouse/config/configuration.py:22-45):
  * skip-fields dropped after flatten, extra timezone columns derived from
  * `timestamp`, and one or more warehouse sink roots (multi-warehouse
  * fan-out, O-34). */
final case class JobConf(
    skipFields: Seq[String] = Nil,
    extraTimestamps: Map[String, String] = Map.empty,
    warehouseRoots: Seq[String] = Nil,
    jdbcSinks: Seq[(String, Map[String, String])] = Nil,
    /** Typed warehouse dicts from a config file (configuration.py:27),
      * dispatched by [[graft.sink.WarehouseFactory.fromConf]]. */
    warehouseConfs: Seq[Map[String, String]] = Nil
)

/** EP-1: the full ingestion dataflow, Spark-native.
  *
  * Reference pipeline (seghouse/jobs/send_to_warehouse.py:104-143):
  * per-file sequential parse -> flatten -> drop -> 6-way split -> extra
  * timestamps -> per-table store. Here the WHOLE input directory is one
  * distributed read (file-splitting replaces the reference's <100-file
  * sequential loop), the parsed+flattened batch is persisted once and all
  * six type-filters read from it, and each table write is one partitioned
  * distributed job.
  *
  * Quirks preserved (semantics ledger, SURVEY §7.3): groups and aliases are
  * structure-checked against their own table names but INSERTED INTO
  * `identities` (reference send_to_warehouse.py:280,296 — O-35); a track
  * event whose normalized name collides with a reserved table name gets an
  * `esc_` prefix (O-33); unknown `type` values are silently dropped (O-12).
  */
final class SendToWarehouseJob(
    spark: SparkSession,
    conf: JobConf,
    namespace: String
) {
  val schema: String = Names.decamelize(namespace)

  private val sinks: Seq[graft.sink.Warehouse] =
    conf.warehouseRoots.map(graft.sink.WarehouseFactory.parquet) ++
      conf.jdbcSinks.map { case (url, props) => graft.sink.WarehouseFactory.jdbc(url, props) } ++
      conf.warehouseConfs.map(graft.sink.WarehouseFactory.fromConf)

  def execute(sourceDir: String): Unit = {
    val raw = Readers.ndjson(spark, sourceDir)
    if (raw.isEmpty) return
    processBatch(raw)
  }

  /** The batch core, reused verbatim by the streaming variant's
    * foreachBatch. */
  def processBatch(raw: DataFrame): Unit = {
    sinks.foreach(_.createDatabase(schema))

    val flat = normalize(raw)
    // the one real physical-plan decision (SURVEY §4): persist the parsed
    // batch so the six type filters + per-event fan-out scan it once
    flat.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val byType = TypeSplit.breakDownByType(flat)

      val identities = byType("identify")
      // count(user_id) from the identities profile decides whether users runs
      if (store(IdentitiesTable, identities).nonNull.getOrElse(UserId, 0L) > 0)
        sinks.foreach(_.upsertUsers(spark, schema, identities))
      storeTracks(byType("track"))
      store(ScreensTable, byType("screen"))
      store(PagesTable, byType("page"))
      // O-35 quirk: the reference ensures the groups/aliases TABLES' own
      // structure (DDL side effect, send_to_warehouse.py:273-296) and then
      // inserts the rows into identities — so the warehouse ends up with
      // (possibly empty) groups/aliases tables evolved to the batch schema,
      // AND the rows in identities.
      store(IdentitiesTable, byType("group"), structureTable = Some(GroupsTable))
      store(IdentitiesTable, byType("alias"), structureTable = Some(AliasesTable))
    } finally { flat.unpersist(); () }
  }

  /** Parse/flatten/normalize one raw NDJSON batch into the flat event frame:
    * O-4/O-5 flatten+decamelize, O-6 skip-fields, O-8 timestamp parse,
    * O-10 extra timezones, O-11 epoch millis. */
  def normalize(raw: DataFrame): DataFrame = {
    val flat       = JsonFlatten.flatten(raw.drop("_corrupt_record"))
    val dropped    = Normalize.dropSkipFields(flat, conf.skipFields)
    val parsed     = Normalize.parseTimestamps(dropped)
    val withExtra  = Normalize.extraTimestamps(parsed, conf.extraTimestamps)
    Normalize.withUnixMillis(withExtra)
  }

  /** Columns the first-non-null rule never retypes (ids and names). */
  private val SniffExcluded = Set(MessageId, "anonymous_id", UserId, "ip", "channel",
    "write_key", TypeCol, EventCol, OriginalEventCol)

  /** Store one table's rows to every sink. ONE profiling aggregate yields
    * the row count (an empty table is skipped), the all-null columns
    * (dropped: they do not participate in DDL that batch, §1.2) and the
    * DDL schema by the reference's first-non-null type inference
    * (dataframe_util.py:43-51); the authoritative table schema then wins
    * at insert time and non-conforming cells become misfits (O-19). */
  private def store(table: String, df: DataFrame,
      structureTable: Option[String] = None): TypeInference.Profile = {
    val profile = TypeInference.profile(df, SniffExcluded)
    if (profile.rows > 0) {
      val pruned = df.drop(profile.deadColumns: _*)
      // O-35: DDL side effect on the batch's own table (groups/aliases)
      structureTable.foreach(st =>
        sinks.foreach(_.ensureTableStructure(schema, st, profile.ddlSchema)))
      sinks.foreach(_.insertDf(spark, schema, table, pruned, ddlSchema = Some(profile.ddlSchema)))
    }
    profile
  }

  private def storeTracks(tracksRaw: DataFrame): Unit = {
    if (!tracksRaw.columns.contains(EventCol)) { store(TracksTable, tracksRaw); return }
    val tracks = Normalize.normalizeEventName(tracksRaw)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // shared tracks table takes the allowlist+prefix projection (O-7)
      val shared = store(TracksTable,
        Normalize.selectTracksColumns(tracks, conf.extraTimestamps.keys.toSeq))
      // O-33: per-event-name fan-out; reserved-name collision -> esc_ prefix
      if (shared.rows > 0) TypeSplit.distinctEventNames(tracks).foreach { e =>
        val tableName = if (DefaultTables.contains(e)) s"esc_$e" else e
        store(tableName, TypeSplit.filterEvent(tracks, e))
      }
    } finally { tracks.unpersist(); () }
  }
}
