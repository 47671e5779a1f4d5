package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch type inference mirroring the reference's first-non-null rule
  * (seghouse/util/dataframe_util.py:11-51): each column's type is decided by
  * its FIRST non-null value — float -> FLOAT64, int -> INT64, bool ->
  * BOOLEAN, str -> STRING (unless the column name is a known timestamp
  * field, handled upstream by name in Normalize.parseTimestamps).
  *
  * Spark's JSON reader has already unified each column to a single type; a
  * column whose values mixed numbers and strings arrives as StringType. To
  * reproduce the reference semantics (first value 12.5 makes the column
  * FLOAT64 and later "twelve" a quarantined misfit) we sniff the first
  * non-null value of every string column lexically and upgrade the target
  * type accordingly. Ledger note: a JSON *string* "12" is indistinguishable
  * from the number 12 after unification, so a numeric-looking first string
  * value also upgrades the column — the documented approximation.
  *
  * Determinism: the reference's "first non-null value" is well-defined
  * because it reads rows in file order; Spark's first(ignoreNulls) is
  * partition-layout-dependent. We pick deterministically instead:
  * min(struct(message_id, value)) per column when the batch carries
  * `message_id` (the Segment-spec stable row key), falling back to
  * min(value) otherwise — same answer on every run and every cluster
  * layout. Ledger note: "row with smallest message_id" rather than "first
  * in file order", a documented deterministic stand-in.
  *
  * Cost: ONE aggregate over the batch (map-side combinable, no shuffle of
  * the data itself), which also yields the row count and the all-null
  * columns the load path needs.
  */
object TypeInference {

  private val LongPattern = "^[+-]?\\d{1,19}$".r

  private[etl] def sniff(v: String): DataType = v match {
    case null => StringType
    case s if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") => BooleanType
    case s if LongPattern.findFirstIn(s).isDefined =>
      try { s.toLong; LongType } catch { case _: NumberFormatException => StringType }
    case s =>
      // float-ish: accept only plain decimal/exponent forms, not "NaN"/"Infinity"
      if (s.matches("^[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?$"))
        DoubleType
      else StringType
  }

  /** One batch's profile: the row count, the non-null count of every
    * column, and the DDL schema — the batch schema without its entirely
    * null columns (§1.2: they do not participate in DDL that batch), with
    * string columns upgraded per the first-non-null rule. Non-string
    * columns keep Spark's (already stricter) inference. */
  final case class Profile(rows: Long, nonNull: Map[String, Long], ddlSchema: StructType) {
    def deadColumns: Seq[String] = nonNull.collect { case (c, 0L) => c }.toSeq
  }

  /** Profile `df` in ONE aggregate: `count(*)`, `count(c)` per column and
    * the deterministic first-value pick of every string column not in
    * `excludeCols`. */
  def profile(df: DataFrame, excludeCols: Set[String] = Set.empty): Profile = {
    val fields = df.schema.fields.toIndexedSeq
    val sniffCols = fields
      .filter(f => f.dataType == StringType && !excludeCols(f.name))
      .map(_.name)
    // deterministic "first": min over (stable key, value) structs — min
    // skips nulls, so only rows where the column is non-null participate
    val stableKey: Option[org.apache.spark.sql.Column] =
      if (df.columns.contains("message_id")) Some(col("message_id")) else None
    val picks = sniffCols.map { c =>
      stableKey match {
        case Some(k) => min(when(col(c).isNotNull, struct(k.as("k"), col(c).as("v"))))
        case None    => min(when(col(c).isNotNull, struct(col(c).as("v"))))
      }
    }
    val row = df.agg(count(lit(1)), fields.map(f => count(col(f.name))) ++ picks: _*).head()
    val nonNull = fields.indices.map(i => fields(i).name -> row.getLong(1 + i)).toMap
    val sniffed: Map[String, DataType] = sniffCols.zipWithIndex.map { case (c, i) =>
      val j = 1 + fields.size + i
      c -> (if (row.isNullAt(j)) StringType else sniff(row.getStruct(j).getAs[String]("v")))
    }.toMap
    val ddl = StructType(fields.filter(f => nonNull(f.name) > 0).map { f =>
      sniffed.get(f.name) match {
        case Some(dt) if dt != StringType => StructField(f.name, dt, nullable = true)
        case _                            => f
      }
    })
    Profile(row.getLong(0), nonNull, ddl)
  }
}
