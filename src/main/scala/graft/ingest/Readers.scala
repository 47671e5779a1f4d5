package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources (reference O-1, O-2; the O-3 parquet branch is a plain
  * `spark.read.parquet`).
  *
  * The reference shells out to `aws s3 cp --recursive` then reads files one
  * by one, single-threaded (seghouse/util/aws_wrapper.py:10-26,
  * send_to_warehouse.py:322-355). On Spark none of that exists: pass the
  * `s3a://` (or local) glob straight to the reader and the data source
  * splits/distributes the scan across executors; gzip NDJSON is transparent.
  */
object Readers {

  /** NDJSON (plain or .gz — decompression is transparent). One JSON object
    * per line -> one row. Malformed lines are captured in a
    * `_corrupt_record` column (PERMISSIVE), the distributed analog of the
    * reference's per-line parse inside one process. */
  def ndjson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    schema.fold(r.json(path))(s => r.schema(s).json(path))
  }
}
