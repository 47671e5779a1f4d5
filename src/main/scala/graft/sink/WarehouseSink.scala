package graft.sink

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.EventSchema._

/** Parquet lakehouse storage under the shared [[Warehouse]] load protocol
  * (reference O-24, O-25).
  *
  * Physical layout mirrors what the reference delegates to ClickHouse
  * MergeTree: date partitioning (`PARTITION BY toDate(timestamp)`,
  * clickhouse.py:86) becomes `partitionBy(event_date)`, and the
  * `(timestamp, message_id)` sort key (clickhouse.py:87) becomes
  * `sortWithinPartitions` — giving parquet row-group locality /
  * min-max-pruning on the same keys CH clusters on. The reference's
  * copy/pivot-to-rows insert dance disappears: one aligned projection +
  * one distributed partitioned write.
  */
final class WarehouseSink(val catalog: TableCatalog) extends Warehouse {

  private val PartitionCol = "event_date"

  override def createDatabase(db: String): Unit = catalog.createDatabase(db)

  override def ensureTableStructure(db: String, t: String, batchSchema: StructType): StructType =
    catalog.ensureTableStructure(db, t, batchSchema)

  override def read(spark: SparkSession, db: String, t: String): DataFrame =
    catalog.read(spark, db, t)

  /** `event_date` partitions sorted by `(timestamp, message_id)` when the
    * table has a timestamp; a plain write otherwise (misfits). */
  private def layout(rows: DataFrame): DataFrameWriter[Row] =
    if (rows.columns.contains(Timestamp))
      rows.withColumn(PartitionCol, to_date(col(Timestamp)))
        .sortWithinPartitions(col(Timestamp), col(MessageId))
        .write.partitionBy(PartitionCol)
    else rows.write

  override protected def append(db: String, t: String, rows: DataFrame): Unit =
    layout(rows).mode("append").parquet(catalog.tablePath(db, t))

  override protected def replace(spark: SparkSession, db: String, t: String, rows: DataFrame): Unit =
    stageThenSwap(spark, db, t)(tmp => rows.write.mode("overwrite").parquet(tmp))

  /** O-22, deferred half: the explicit analog of ClickHouse's background
    * merge for `ReplacingMergeTree() ORDER BY (timestamp, message_id)`
    * tables. Appends are blind (same as CH inserts); duplicates from
    * re-delivered batches are collapsed HERE, on demand — run it like
    * `OPTIMIZE TABLE ... FINAL`. The rewrite restores the physical layout
    * too (date partitioning + sort-key clustering), so it doubles as the
    * small-files/ordering maintenance pass. Returns rows removed. */
  def compact(spark: SparkSession, db: String, t: String): Long = {
    val current = catalog.read(spark, db, t)
    if (current.schema.fields.isEmpty) return 0L
    // table-specific CH sort key: misfits dedup on their identity triple
    // (clickhouse.py:222-233), everything else on (timestamp, message_id)
    val wantedKeys =
      if (t == MisfitsTable) Seq(MessageId, "table_name", "column_name")
      else Seq(Timestamp, MessageId)
    val dedupKeys = wantedKeys.filter(current.columns.contains)
    if (dedupKeys.size != wantedKeys.size) return 0L
    val deduped = current.dropDuplicates(dedupKeys)
      .localCheckpoint(true) // materialize before replacing the source files
    val before = current.count()
    val after  = deduped.count()
    stageThenSwap(spark, db, t)(tmp => layout(deduped).mode("overwrite").parquet(tmp))
    before - after
  }

  /** Stage-then-swap replacement of a table directory (parquet has no
    * transactional replace), preserving the catalog's authoritative
    * schema marker. */
  private def stageThenSwap(spark: SparkSession, db: String, t: String)(
      write: String => Unit): Unit = {
    val target = catalog.tablePath(db, t)
    val tmp    = target + "__staged"
    write(tmp)
    val tgtPath = new org.apache.hadoop.fs.Path(target)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    // resolve the FS from the path's own scheme (s3a://, hdfs://, file://),
    // not the cluster default FS
    val fs = tgtPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaJson = catalog.describe(db, t)
    if (fs.exists(tgtPath)) fs.delete(tgtPath, true)
    fs.rename(tmpPath, tgtPath)
    schemaJson.foreach(s => catalog.ensureTableStructure(db, t, s))
    ()
  }
}
