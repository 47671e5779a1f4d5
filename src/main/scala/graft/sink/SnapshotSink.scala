package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** MANIFEST-COMMITTED parquet snapshots — atomic dataset publication
  * without a table format. A 100 TB write that dies halfway must leave
  * readers on either the previous snapshot or the new one, never a mix —
  * and a parquet DIRECTORY cannot promise that: part-files from dead
  * executors, speculative duplicates and half-finished jobs are
  * indistinguishable from committed data in a listing. The fix is the
  * one every table format (Iceberg/Delta/Hudi) builds on: readers list
  * a MANIFEST, not the directory, and commit = one atomic rename of the
  * manifest into place.
  *
  * Layout under the snapshot root:
  *   data/<token>/part-*.parquet   — each commit writes a FRESH subdir
  *   _manifests/v<N>.json          — file list + row count; rename-committed
  *   _manifests/v<N>.stats|setidx  — optional per-file sidecars ([[Sidecars]])
  *   _published/p<S>.json          — write-audit-publish pointers
  *
  * Commit protocol: write data files → write sidecars → write
  * `v<N>.json.tmp` → rename to `v<N>.json` (atomic on HDFS/posix). A
  * crash before the rename leaves orphan data files, sidecars and a
  * `.tmp` — all invisible to readers, who only trust fully-renamed
  * manifests. The latest snapshot IS max(N) over committed manifests, so
  * there is no second pointer file to race on. Every write — commit,
  * append, compaction, delete, TTL, upsert — goes through the one
  * [[commitStep]]. Single concurrent committer assumed (the version
  * counter is read-allocate-rename); readers need no coordination at any
  * concurrency.
  *
  * Scale notes: the manifest holds file PATHS (O(files), KBs–MBs at
  * 100 TB with sane file sizing) — never row data; the row count comes
  * from parquet footers (a metadata-only job, no data scan); old
  * snapshots stay readable until their data subdirs are vacuumed, which
  * is what makes reader/writer isolation free. */
object SnapshotSink {

  final case class Snapshot(version: Int, files: Seq[String], rows: Long)

  /** A per-file Bloom set index over `keys` — a LongType or ARRAY<BIGINT>
    * column computed FROM the written columns, e.g.
    * `portableHash64(tokens(col("text")))`. `expectedPerFile` sizes each
    * filter (distinct keys per file; ~1.2 KB per 1k keys at 1%). */
  final case class SetIndex(keys: Column, expectedPerFile: Long, fpp: Double = 0.01) {
    require(expectedPerFile > 0, "expectedPerFile must be positive")
  }

  /** The sidecars a version carries: range zone maps over `stats`, with
    * per-file decimal `sums` riding in the same sidecar, and/or a
    * membership [[SetIndex]]. A plain [[commit]] starts a fresh set;
    * every write that continues a lineage ([[append]], [[compact]] and
    * the maintenance ops) must name exactly the tip's sidecars, or it is
    * refused — a sidecar is never silently dropped. */
  final case class Sidecars(
      stats: Seq[String] = Seq.empty,
      sums: Seq[String] = Seq.empty,
      set: Option[SetIndex] = None) {
    require(sums.isEmpty || stats.nonEmpty,
      "sums ride the zone-map sidecar — stats must be non-empty")
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def publishDir(root: String) = new Path(root, "_published")
  private def statsDir(root: String, version: Int) =
    new Path(manifestDir(root), s"v$version.stats")
  private def setIndexDir(root: String, version: Int) =
    new Path(manifestDir(root), s"v$version.setidx")

  /** Path-canonical string form — sidecar file strings come from
    * `input_file_name()` (`file:///…`) while manifest files come from
    * `Path.toString` (`file:/…`); every cross-comparison goes through
    * this or victim files silently mismatch (the q154 lesson). */
  private def canon(p: String): String = new Path(p).toString

  /** The `N` of every fully-renamed `<prefix><N>.json` under `dir`, ascending. */
  private def numbered(spark: SparkSession, dir: Path, prefix: String): Seq[Int] = {
    val f = fs(spark, dir)
    val name = s"$prefix(\\d+)\\.json".r
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case name(n) => n.toInt }
      .sorted
  }

  /** Write `body` as `dir/name` atomically: a temp file, then one rename. */
  private def renameCommit(spark: SparkSession, dir: Path, name: String, body: String): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val tmp = new Path(dir, s"$name.tmp")
    val fin = new Path(dir, name)
    val out = f.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, fin))
      throw new IllegalStateException(s"snapshot commit failed: cannot rename $tmp to $fin")
  }

  /** A small metadata file (manifest or publish pointer) as a string. */
  private def readSmall(spark: SparkSession, p: Path): String = {
    val in = fs(spark, p).open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** A machine-written integer field of a metadata file. */
  private def longField(json: String, name: String): Long =
    ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(json).get.group(1).toLong

  /** Run `f` over the parquet footer of `p`, read on the driver. */
  private def withFooter[A](spark: SparkSession, p: Path)(f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()))
    try f(r) finally r.close()
  }

  /** Committed versions, ascending (fully-renamed manifests only). */
  def versions(spark: SparkSession, root: String): Seq[Int] =
    numbered(spark, manifestDir(root), "v")

  /** Write `df`'s data files into a fresh data subdir — NO manifest yet,
    * so nothing is visible to readers. Returns the file list. */
  private def writeFiles(df: DataFrame, root: String): Seq[String] = {
    val spark = df.sparkSession
    val token = java.util.UUID.randomUUID().toString.take(12)
    val dataPath = new Path(new Path(root, "data"), token)
    df.write.parquet(dataPath.toString)
    val f = fs(spark, dataPath)
    f.listStatus(dataPath).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
  }

  // ===== Per-file facts: the row count and every sidecar row =====
  //
  // Zone maps are the data-skipping half of the ClickHouse sort-key story
  // the reference leans on (`reference/seghouse/warehouse/clickhouse.py:86-87`
  // — `PARTITION BY toDate(timestamp) ORDER BY (timestamp, message_id)`
  // exists precisely so the server can skip granules by primary-key
  // range): a version carrying `Sidecars(stats = …)` has a QUERYABLE
  // parquet sidecar of per-file bounds, and [[readPruned]] drops every
  // file whose [min,max] cannot intersect the predicate BEFORE Spark ever
  // lists it. Layout clustering is the caller's lever — `repartitionByRange`
  // on the stats column gives tight disjoint per-file ranges (the ZOrder
  // module's multi-column variant composes the same way), after which an
  // equality/range probe touches O(1) files out of O(table).
  //
  // The set index skips on MEMBERSHIP and needs no clustering —
  // ClickHouse's `tokenbf_v1` secondary index, here at file grain: each
  // data file carries one Bloom filter over a caller-defined per-row hash
  // SET (token hashes for full-text probes, user-id hashes for point
  // lookups), and a probe reads only files whose filter might contain the
  // hash. No false negatives ⇒ pruning is lossless for any predicate that
  // IMPLIES "some row's key set contains h"; false positives only add
  // files.
  //
  // Scale notes: a commit's facts come from ONE source — the footers when
  // they are exact, else one column-pruned, map-side-combined groupBy(file)
  // pass over the just-written batch that yields rows, bounds, sums and
  // the Bloom filter together (O(batch), each partition ships one partial
  // per file). Sidecars are O(files × columns) parquet — at a million
  // files a well-formed small table, which is why they are stored as
  // parquet and not folded into the JSON manifest. They are written
  // BEFORE the manifest rename, so commit atomicity is unchanged: an
  // unreferenced sidecar from a crashed commit is invisible (readers
  // resolve sidecars through the committed version number) and is swept
  // by vacuum after the orphan grace.

  /** Fixed-point type for per-file measure sums: exact, mergeable
    * across files (decimal addition is associative — the property the
    * metadata-only aggregate path rests on), and wide enough that
    * file-level partials never overflow. */
  private val SumDec = "decimal(30,6)"

  /** A batch's facts: its row count and the fresh rows of each sidecar
    * the commit names (one row per non-empty file). */
  private final case class Facts(rows: Long, stats: Option[DataFrame], set: Option[DataFrame])

  /** The zone-map sidecar rows of `files` from their parquet FOOTERS, and
    * the total row count; with no `statsCols` just the per-file row
    * counts. Footer column statistics are exact for a plain non-repeated
    * INT32/INT64 column, so this is taken only when EVERY stats column is
    * one, every row group carries statistics, and there are ≤ 64 files
    * (bounded driver I/O; a larger commit keeps its Spark pass, since the
    * driver should not do data-proportional work). String and
    * binary footer stats may be truncated and are refused. Anything else
    * returns None and the caller runs the distributed pass, so the
    * sidecar CONTENT is identical either way, by parquet's metadata
    * contract. Zero-row files get no sidecar row, exactly like the Spark
    * path's groupBy over an empty scan. */
  private def footerStats(
      spark: SparkSession, files: Seq[String],
      statsCols: Seq[String]): Option[(Long, DataFrame)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    if (files.isEmpty || files.size > 64) return None
    val colTypes = scala.collection.mutable.LinkedHashMap.empty[String, PrimitiveTypeName]
    val rowsOut = scala.collection.mutable.ArrayBuffer.empty[Row]
    var total = 0L
    for (p <- files) withFooter(spark, new Path(p)) { r =>
      val schema = r.getFooter.getFileMetaData.getSchema
      for (c <- statsCols) {
        val f = schema.getFields.toArray.collectFirst {
          case t: org.apache.parquet.schema.Type if t.getName == c => t }
        val prim = f match {
          case Some(t) if t.isPrimitive && !t.isRepetition(
              org.apache.parquet.schema.Type.Repetition.REPEATED) &&
              t.getLogicalTypeAnnotation == null &&
              (t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
                t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32) =>
            t.asPrimitiveType.getPrimitiveTypeName
          case _ => return None // not an exact-footer-stats column type
        }
        if (colTypes.getOrElseUpdate(c, prim) != prim) return None
      }
      val blocks = r.getFooter.getBlocks
      val fileRows = r.getRecordCount
      total += fileRows
      if (fileRows > 0L) {
        val vals = statsCols.flatMap { c =>
          var mn: Comparable[Any] = null
          var mx: Comparable[Any] = null
          var nulls = 0L
          val it = blocks.iterator()
          while (it.hasNext) {
            val b = it.next()
            val cc = b.getColumns.toArray.collectFirst {
              case m: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
                if m.getPath == org.apache.parquet.hadoop.metadata.ColumnPath.get(c) => m }
              .getOrElse(return None)
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) return None // stats absent — fall back
            nulls += st.getNumNulls
            if (st.hasNonNullValue) {
              val bmn = st.genericGetMin.asInstanceOf[Comparable[Any]]
              val bmx = st.genericGetMax.asInstanceOf[Comparable[Any]]
              if (mn == null || bmn.compareTo(mn) < 0) mn = bmn
              if (mx == null || bmx.compareTo(mx) > 0) mx = bmx
            }
          }
          Seq(mn, mx, java.lang.Long.valueOf(nulls))
        }
        rowsOut += Row.fromSeq(Seq(p, java.lang.Long.valueOf(fileRows)) ++ vals)
      }
    }
    val valueType: PrimitiveTypeName => DataType = {
      case PrimitiveTypeName.INT64 => LongType
      case _                       => IntegerType
    }
    val schema = StructType(
      Seq(StructField("file", StringType), StructField("rows", LongType)) ++
        statsCols.flatMap { c =>
          val t = valueType(colTypes(c))
          Seq(StructField(s"${c}__min", t), StructField(s"${c}__max", t),
            StructField(s"${c}__nulls", LongType))
        })
    Some((total, spark.createDataFrame(rowsOut.asJava, schema)))
  }

  /** The facts of freshly written `files` for the sidecars `idx` names,
    * each computed once: zone maps from the footers when [[footerStats]]
    * is exact; everything else — rows, the remaining min/max/nulls, sums
    * and the Bloom filter — from ONE groupBy(file) pass. A plain commit
    * runs no pass at all (footer row counts, or a metadata-only count
    * past 64 files). */
  private def freshFacts(spark: SparkSession, files: Seq[String], idx: Sidecars): Facts = {
    if (files.isEmpty) return Facts(0L, None, None)
    val footer =
      if (idx.sums.nonEmpty || (idx.stats.isEmpty && idx.set.nonEmpty)) None
      else footerStats(spark, files, idx.stats)
    val footerSide = footer.filter(_ => idx.stats.nonEmpty).map(_._2)
    if (idx.set.isEmpty && (footer.nonEmpty || idx.stats.isEmpty))
      return Facts(footer.fold(readWritten(spark, files).count())(_._1), footerSide, None)
    val owed = if (footer.nonEmpty) Seq.empty else idx.stats
    val aggs = count(lit(1L)).as("rows") +: (owed.flatMap(c => Seq(
      min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
      sum(col(c).isNull.cast("long")).as(s"${c}__nulls"))) ++
      idx.sums.map(m =>
        sum(col(m).cast("decimal(18,6)")).cast(SumDec).as(s"${m}__sum")) ++
      idx.set.map(s => graft.plans.BloomSetAgg.bloomSetAgg(
        col("ks"), s.expectedPerFile, s.fpp).as("bloom")))
    val perFile = readWritten(spark, files)
      .select(input_file_name().as("file") +: ((owed ++ idx.sums).distinct.map(col) ++
        idx.set.map(_.keys.as("ks"))): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
    val rows = perFile.collect()
    val local = spark.createDataFrame(rows.toSeq.asJava, perFile.schema)
    Facts(rows.map(_.getLong(1)).sum,
      footerSide.orElse(if (idx.stats.isEmpty) None else Some(local.drop("bloom"))),
      idx.set.map(_ => local.select("file", "rows", "bloom")))
  }

  /** The Spark schema a parquet file was written with, from its footer on
    * the driver: a read given this schema plans with no inference job. */
  private def writtenSchema(spark: SparkSession, p: Path): StructType =
    withFooter(spark, p)(r => DataType.fromJson(r.getFooter.getFileMetaData
      .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[StructType])

  /** Files of one just-finished write, read with their written schema. */
  private def readWritten(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(writtenSchema(spark, new Path(files.head))).parquet(files: _*)

  /** The Spark schema of the parquet sidecar at `dir` (None when absent). */
  private def sidecarSchema(spark: SparkSession, dir: Path): Option[StructType] = {
    val f = fs(spark, dir)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq.map(_.getPath)
      .find(_.getName.endsWith(".parquet")).map(writtenSchema(spark, _))
  }

  /** The parquet sidecar at `dir`; `missing` is the refusal when absent. */
  private def readSidecar(spark: SparkSession, dir: Path, missing: => String): DataFrame = {
    val schema = sidecarSchema(spark, dir)
    require(schema.nonEmpty, missing)
    spark.read.schema(schema.get).parquet(dir.toString)
  }

  /** Refuse a write that continues version `v` unless `idx` names exactly
    * the sidecars `v` carries — dropping one would leave the next pruned
    * read, TTL or upsert on the new tip without the index it needs. */
  private def requireSidecars(spark: SparkSession, root: String, v: Int, idx: Sidecars): Unit = {
    sidecarSchema(spark, statsDir(root, v)).map(_.fieldNames.toSet) match {
      case None => require(idx.stats.isEmpty,
        s"snapshot v$v has no zone-map sidecar to extend (committed without stats)")
      case Some(have) =>
        require(idx.stats.nonEmpty,
          s"snapshot v$v carries a zone-map sidecar — name its stats (and sums) " +
            "in Sidecars so this write keeps it")
        val want = Set("file", "rows") ++ idx.stats.flatMap(c =>
          Seq(s"${c}__min", s"${c}__max", s"${c}__nulls")) ++ idx.sums.map(m => s"${m}__sum")
        require(have == want,
          s"stats sidecar schema mismatch: v$v has [${have.toSeq.sorted.mkString(",")}], " +
            s"this write names [${want.toSeq.sorted.mkString(",")}] — name the " +
            "lineage's original stats and sums")
    }
    if (fs(spark, setIndexDir(root, v)).exists(setIndexDir(root, v)))
      require(idx.set.nonEmpty,
        s"snapshot v$v carries a set index — name it in Sidecars(set = …) so " +
          "this write keeps it")
    else require(idx.set.isEmpty,
      s"snapshot v$v has no set index to extend (committed without one)")
  }

  /** The latest snapshot, as the tip a lineage-continuing write extends. */
  private def tip(spark: SparkSession, root: String, idx: Sidecars): Snapshot = {
    val s = snapshot(spark, root)
    requireSidecars(spark, root, s.version, idx)
    s
  }

  /** THE commit step of every write. The new version references `carried`
    * (files of `prior`, kept verbatim) plus the freshly written `fresh`;
    * each sidecar `idx` names is the prior version's rows for the carried
    * files — per-file facts, since files never change once committed —
    * plus the fresh files' rows from [[freshFacts]]. So an append or a
    * targeted rewrite costs O(new files) fact work + O(files) sidecar
    * metadata, never a table re-scan. `prior` is None for a plain commit
    * (a fresh sidecar set, version = latest + 1); otherwise the caller
    * has checked it with [[requireSidecars]]. Sidecars land before the
    * manifest's rename, which publishes the version. */
  private def commitStep(
      spark: SparkSession, root: String, prior: Option[Snapshot],
      carried: Seq[String], fresh: Seq[String], idx: Sidecars): Snapshot = {
    val version = prior.fold(versions(spark, root).lastOption.getOrElse(0))(_.version) + 1
    val facts = freshFacts(spark, fresh, idx)
    val wholeTip = prior.exists(_.files.size == carried.size)
    // one sidecar of the new version; returns the carried files' row total
    def extend(dir: Int => Path, freshSide: Option[DataFrame]): Long = {
      val (kept, keptRows) = prior match {
        case Some(p) if carried.nonEmpty || freshSide.isEmpty =>
          val all = readSidecar(spark, dir(p.version), s"snapshot v${p.version} lost a sidecar")
          if (wholeTip) (Some(all), p.rows)
          else {
            val keep = carried.map(canon).toSet
            val hit = all.select("file", "rows").collect()
              .filter(r => keep.contains(canon(r.getString(0))))
            (Some(all.filter(col("file").isin(hit.map(_.getString(0)).toSeq: _*))),
              hit.map(_.getLong(1)).sum)
          }
        case _ => (None, 0L)
      }
      (kept ++ freshSide).reduceOption(_.unionByName(_)).foreach(
        _.coalesce(1).write.mode("overwrite").parquet(dir(version).toString))
      keptRows
    }
    val statsRows =
      if (idx.stats.isEmpty) None else Some(extend(statsDir(root, _), facts.stats))
    val setRows = idx.set.map(_ => extend(setIndexDir(root, _), facts.set))
    require(carried.isEmpty || wholeTip || idx.stats.nonEmpty || idx.set.nonEmpty,
      "a partial carry needs a sidecar to count the carried rows")
    val rows = facts.rows + statsRows.orElse(setRows)
      .getOrElse(prior.filter(_ => wholeTip).fold(0L)(_.rows))
    val files = (carried ++ fresh).sorted
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    renameCommit(spark, manifestDir(root), s"v$version.json",
      s"""{"version":$version,"rows":$rows,"files":[${files.map(q).mkString(",")}]}""")
    Snapshot(version, files, rows)
  }

  /** Write `df` as the next snapshot version and commit it atomically,
    * with the sidecars `idx` names computed over the new files (a fresh
    * sidecar set: nothing is carried). Returns the committed snapshot
    * descriptor. */
  def commit(df: DataFrame, root: String, idx: Sidecars = Sidecars()): Snapshot =
    commitStep(df.sparkSession, root, None, Seq.empty, writeFiles(df, root), idx)

  /** APPEND `df` as the next snapshot version WITHOUT rewriting existing
    * data: the batch lands in a fresh data subdir and the new manifest
    * references the previous version's files PLUS the new ones — an
    * add-files commit, O(batch) write I/O per append instead of the
    * O(table) rewrite a read-union-recommit costs. This is how a
    * corpus-sized table (e.g. an ANN signature index, q143) grows
    * incrementally; state-sized tables can afford either. `idx` must name
    * exactly the tip's sidecars, which are extended by the batch's rows.
    * Readers of prior versions are untouched (their file lists never
    * change). On an empty root this is a first [[commit]]. */
  def append(df: DataFrame, root: String, idx: Sidecars = Sidecars()): Snapshot = {
    val spark = df.sparkSession
    val prior =
      if (versions(spark, root).isEmpty) None else Some(tip(spark, root, idx))
    commitStep(spark, root, prior, prior.fold(Seq.empty[String])(_.files),
      writeFiles(df, root), idx)
  }

  /** Read `v`'s manifest directly — the caller vouches `v` is committed
    * (no directory re-listing; [[history]] reads V manifests off ONE
    * listing instead of V+1). */
  private def readManifest(spark: SparkSession, root: String, v: Int): Snapshot = {
    val json = readSmall(spark, new Path(manifestDir(root), s"v$v.json"))
    // manifest fields are machine-written (see commitStep) — parse positionally
    Snapshot(v, parseFilesArray(json), longField(json, "rows"))
  }

  /** The committed snapshot descriptor for `version` (default: latest). */
  def snapshot(spark: SparkSession, root: String, version: Option[Int] = None): Snapshot = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v$v not committed (have ${vs.mkString(",")})")
    readManifest(spark, root, v)
  }

  /** The `"files":[...]` array, parsed by an escape-aware character walk.
    * A naive split-on-comma corrupts any path CONTAINING a comma (legal
    * in URIs), and unescaping `\"` before `\\` mangles trailing
    * backslash-quote runs (r7 advisor finding) — a string scanner that
    * honors JSON escapes in one pass has neither failure mode. */
  private[graft] def parseFilesArray(json: String): Seq[String] = {
    val tag = "\"files\":["
    val start = json.indexOf(tag)
    require(start >= 0, s"malformed manifest (no files array): ${json.take(200)}")
    var i = start + tag.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inStr = false
    var done = false
    while (!done) {
      require(i < json.length, "malformed manifest: unterminated files array")
      val c = json.charAt(i)
      if (inStr) c match {
        case '\\' =>
          require(i + 1 < json.length, "malformed manifest: dangling escape")
          sb.append(json.charAt(i + 1)) // commit only emits \" and \\
          i += 2
        case '"' => out += sb.result(); sb.clear(); inStr = false; i += 1
        case ch  => sb.append(ch); i += 1
      } else c match {
        case '"'       => inStr = true; i += 1
        case ']'       => done = true
        case ',' | ' ' => i += 1
        case ch => throw new IllegalStateException(
          s"malformed manifest: unexpected '$ch' in files array")
      }
    }
    out.toSeq
  }

  /** DESCRIBE HISTORY analog: one row per committed version —
    * `(version, n_files, n_rows)` — read from the manifests alone
    * (metadata-only; no data I/O). The audit surface a lineage needs:
    * which commit grew the table, what a vacuum would retire, where a
    * time-travel read lands. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(spark, root) // ONE listing; then one manifest read per version
      .map { v =>
        val s = readManifest(spark, root, v)
        (v, s.files.size, s.rows)
      }
      .toDF("version", "n_files", "n_rows")
  }

  /** WRITE–AUDIT–PUBLISH promotion: mark a COMMITTED version as the one
    * published readers see. Commits are the WRITE, the caller's checks
    * between commit and this call are the AUDIT, and this pointer is
    * the PUBLISH — staged versions stay invisible to
    * [[readPublished]] until promoted (the Iceberg WAP discipline on
    * this store). The pointer advances by the manifest rename
    * discipline (write temp, atomic rename), and pointer files are
    * SEQUENCED, never overwritten, so the publish history — including
    * rollbacks to an older version — is itself auditable. [[vacuum]]
    * never retires the published version. */
  def publish(spark: SparkSession, root: String, version: Int): Unit = {
    require(versions(spark, root).contains(version),
      s"cannot publish uncommitted version $version")
    val seq = numbered(spark, publishDir(root), "p").lastOption.getOrElse(0) + 1
    renameCommit(spark, publishDir(root), s"p$seq.json", s"""{"seq":$seq,"version":$version}""")
  }

  /** The currently published version (highest-sequence pointer), or
    * None when nothing has been published yet. */
  def publishedVersion(spark: SparkSession, root: String): Option[Int] =
    numbered(spark, publishDir(root), "p").lastOption.map { seq =>
      longField(readSmall(spark, new Path(publishDir(root), s"p$seq.json")), "version").toInt
    }

  /** Read through the published pointer — what a downstream consumer
    * sees; staged (committed-but-unpublished) versions are invisible. */
  def readPublished(spark: SparkSession, root: String): DataFrame = {
    val v = publishedVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    read(spark, root, Some(v))
  }

  /** CHANGE DATA CAPTURE between two committed versions, keyed:
    * `I` inserted, `D` deleted, `U` updated (same key, different
    * non-key payload); unchanged rows are omitted. Payload columns
    * come from the TO side for I/U and the FROM side for D — the
    * minimal keyed delta an incremental downstream consumer replays
    * instead of re-reading the table. One full-outer join on the key
    * (both sides are manifest reads, so CDC between ANY two versions
    * costs two snapshot scans regardless of how many commits lie
    * between them). */
  def cdc(spark: SparkSession, root: String, fromV: Int, toV: Int,
          keyCols: Seq[String]): DataFrame = {
    val from = read(spark, root, Some(fromV))
    val to = read(spark, root, Some(toV))
    require(from.columns.sorted.sameElements(to.columns.sorted),
      s"cdc requires matching schemas, got ${from.columns.toSeq} vs ${to.columns.toSeq}")
    require(keyCols.nonEmpty && keyCols.forall(from.columns.contains),
      "key columns must exist")
    val others = from.columns.filterNot(keyCols.contains).toSeq
    val f = from.select(keyCols.map(col) :+
      struct(others.map(col): _*).as("_vf"): _*)
    val t = to.select(keyCols.map(col) :+
      struct(others.map(col): _*).as("_vt"): _*)
    f.join(t, keyCols, "full_outer")
      .withColumn("op",
        when(col("_vf").isNull, "I")
          .when(col("_vt").isNull, "D")
          .when(col("_vf") =!= col("_vt"), "U"))
      .filter(col("op").isNotNull)
      .withColumn("_v", coalesce(col("_vt"), col("_vf")))
      .select(col("op") +: keyCols.map(col) ++:
        others.map(o => col(s"_v.$o").as(o)): _*)
  }

  /** Read a committed snapshot BY ITS MANIFEST — orphan files in the
    * data directories are invisible by construction. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val s = snapshot(spark, root, version)
    require(s.files.nonEmpty, s"snapshot v${s.version} has no files")
    spark.read.parquet(s.files: _*)
  }

  /** The zone-map sidecar of `version` (default latest) as a DataFrame —
    * one row per data file: `file`, `rows`, and for each stats column
    * `<c>__min` / `<c>__max` / `<c>__nulls` in the column's NATIVE type
    * (parquet preserves it, so pruning comparisons never round-trip
    * through strings), plus `<m>__sum` per sums column. Stats are
    * themselves a queryable table. Fails with a pointed message for
    * versions committed without stats. */
  def statsTable(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame =
    statsOf(spark, root, snapshot(spark, root, version).version)

  private def statsOf(spark: SparkSession, root: String, v: Int): DataFrame =
    readSidecar(spark, statsDir(root, v),
      s"snapshot v$v has no zone-map sidecar (committed without stats — " +
        "name them in Sidecars(stats = …))")

  final case class PrunedRead(
      df: DataFrame, keptFiles: Int, totalFiles: Int,
      files: Seq[String] = Seq.empty)

  /** The zone-map kept-file list of `v`: files whose bounds can intersect
    * EVERY `(column, lo, hi)` range. All-null files are dropped: a range
    * predicate is null-rejecting. */
  private def keptByRanges(
      spark: SparkSession, root: String, v: Int,
      ranges: Seq[(String, Any, Any)]): Seq[String] = {
    val keep = ranges.map { case (c, lo, hi) =>
      val mn = col(s"${c}__min")
      val mx = col(s"${c}__max")
      mn.isNotNull && mx.isNotNull && !(mn > lit(hi) || mx < lit(lo))
    }.reduce(_ && _)
    statsOf(spark, root, v)
      .filter(keep).select("file").collect().map(_.getString(0)).toSeq.sorted
  }

  /** The set-index kept-file list of `v`: files whose Bloom filter passes
    * `test`. The per-file probe runs on the driver over the sidecar —
    * metadata-scale, like the zone-map path. */
  private def keptBySet(
      spark: SparkSession, root: String, v: Int,
      test: Array[Byte] => Boolean): Seq[String] = {
    readSidecar(spark, setIndexDir(root, v),
      s"snapshot v$v has no set index (committed without one — " +
        "name it in Sidecars(set = …))")
      .select("file", "bloom").collect()
      .filter(r => test(r.getAs[Array[Byte]]("bloom")))
      .map(_.getString(0)).toSeq.sorted
  }

  /** Read `version` (default latest) with files pruned by its sidecars:
    * the zone map keeps files whose bounds can intersect every `ranges`
    * entry, the set index keeps files whose filter might contain `probe`,
    * and with both the read takes the INTERSECTION (the primary-key plus
    * secondary-index serve: cluster on time, point-probe on entity). The
    * range residual conjunction is then applied (pruning is file-granular;
    * the predicate still runs — and pushes down to row groups — inside
    * kept files). A probe is SOUND ONLY for predicates that require some
    * row's key set to contain `probe`: the caller re-applies its exact
    * predicate, and a pruned file provably has no such row. Multiple
    * ranges are the read side of a Z-ORDERED layout
    * (`operators/ZOrder.zValue`): z-contiguous files span a narrow range
    * of BOTH interleaved dimensions, so a two-predicate probe prunes
    * multiplicatively — the Delta/Iceberg `OPTIMIZE ZORDER BY` serve.
    * The kept/total counts are returned for audit.
    *
    * The kept-file lists are collected on the driver — O(files) metadata,
    * the same order every manifest read already costs; a deployment with
    * millions of files would push this selection into a join against the
    * sidecar table instead. */
  def readPruned(
      spark: SparkSession, root: String,
      ranges: Seq[(String, Any, Any)] = Seq.empty, probe: Option[Long] = None,
      version: Option[Int] = None): PrunedRead = {
    require(ranges.nonEmpty || probe.nonEmpty, "readPruned needs a range or a probe")
    val s = snapshot(spark, root, version)
    require(s.files.nonEmpty, s"snapshot v${s.version} has no files")
    val bySet = probe.map(h => keptBySet(spark, root, s.version,
      graft.plans.BloomSetAgg.mightContain(_, h)))
    val byRange =
      if (ranges.isEmpty) None else Some(keptByRanges(spark, root, s.version, ranges))
    // intersect CANONICAL paths: the two sidecars may render the same
    // file in different URI forms (footer-stats path: Path.toString
    // `file:/…`; set-index path: input_file_name() `file:///…`) — the
    // q154 lesson applied to a cross-SIDECAR comparison
    val kept = (byRange, bySet) match {
      case (Some(r), Some(b)) =>
        val inSet = b.map(canon).toSet
        r.filter(f => inSet.contains(canon(f)))
      case _ => byRange.orElse(bySet).get
    }
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduceOption(_ && _)
    val df =
      if (kept.isEmpty) spark.read.parquet(s.files: _*).filter(lit(false))
      else residual.foldLeft(spark.read.parquet(kept: _*))(_.filter(_))
    PrunedRead(df, kept.size, s.files.size, kept)
  }

  /** Result of [[aggRangeFromStats]]: one row `(n, sum)` plus the audit
    * counts (metadata-served / scanned / total files). */
  final case class AggServed(df: DataFrame, metaFiles: Int, scanFiles: Int, totalFiles: Int)

  /** METADATA-ONLY AGGREGATE SERVING — the endgame of the zone-map
    * sidecar: `count(*)` and `sum(measure)` over `lo ≤ c ≤ hi` answered
    * by PARTITIONING THE FILE SET, not the rows. Files fully CONTAINED
    * in the range (min ≥ lo ∧ max ≤ hi) contribute their sidecar `rows`
    * and `measure__sum` — no data read at all; only BOUNDARY files
    * (overlapping but not contained) are scanned with the residual
    * filter. On a range-clustered layout a 100 TB table answers a
    * window aggregate from KBs of sidecar plus ≤2 boundary-file scans —
    * ClickHouse's partition-pruned count with the sum riding along.
    * Exact because per-file sums are fixed-point decimals (associative
    * addition) computed from the same committed rows; requires the
    * snapshot to carry `measure` in `Sidecars.sums` at commit time.
    *
    * `sum` is in the sidecar's DECIMAL type. One SQL-semantics edge: an
    * all-null measure yields SUM() = NULL in SQL but 0 here (the
    * metadata path cannot distinguish "no rows" from "all null") —
    * callers with nullable measures own that convention. */
  def aggRangeFromStats(
      spark: SparkSession, root: String, c: String, lo: Any, hi: Any,
      measure: String, version: Option[Int] = None): AggServed = {
    val s = snapshot(spark, root, version)
    require(s.files.nonEmpty, s"snapshot v${s.version} has no files")
    val st = statsOf(spark, root, s.version)
    require(st.columns.contains(s"${measure}__sum"),
      s"snapshot v${s.version} has no per-file sums for '$measure' " +
        "(name it in Sidecars(sums = …) at commit time)")
    val mn = col(s"${c}__min")
    val mx = col(s"${c}__max")
    val overlaps = mn.isNotNull && mx.isNotNull && !(mn > lit(hi) || mx < lit(lo))
    // metadata-only service requires EVERY row of the file to satisfy
    // the range — null-c rows are invisible to min/max but rejected by
    // the residual filter, so a null-carrying file must scan (the same
    // null guard expireBelow's whole-file drop uses)
    val contained = overlaps && mn >= lit(lo) && mx <= lit(hi) &&
      col(s"${c}__nulls") === lit(0L)
    val parts = st.select(col("file"), col("rows"), col(s"${measure}__sum").as("msum"),
        overlaps.as("ov"), contained.as("cont"))
      .filter(col("ov")).collect()
    val (meta, boundary) = parts.partition(_.getAs[Boolean]("cont"))
    val metaN = meta.map(_.getAs[Long]("rows")).sum
    val metaSum = meta.map(r => Option(r.getAs[java.math.BigDecimal]("msum")))
      .flatten.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    val metaDf = spark.range(1).select(
      lit(metaN).as("n"), lit(metaSum).cast(SumDec).as("s"))
    val scanned =
      if (boundary.isEmpty) metaDf.filter(lit(false))
      else spark.read.parquet(boundary.map(_.getString(0)).toIndexedSeq.sorted: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
        .agg(count(lit(1L)).as("n"),
          sum(col(measure).cast("decimal(18,6)")).cast(SumDec).as("s"))
    val out = metaDf.unionByName(scanned)
      .agg(sum("n").cast("long").as("n"), sum("s").cast(SumDec).as("sum"))
    AggServed(out, meta.length, boundary.length, s.files.size)
  }

  /** TARGETED DELETE — the lakehouse DELETE with the Bloom set index
    * doing the file targeting, and the store-side half of the q124
    * right-to-be-forgotten pass: only files whose set index might
    * contain `h` are rewritten (minus rows where `pred` is strictly
    * TRUE — null predicates keep their rows, the IS DISTINCT FROM
    * convention a deletion wants); every other file is carried into the
    * next version VERBATIM, so the write cost is O(victim files), not
    * O(table) — on an entity-bucketed 100 TB layout, deleting one user
    * touches the handful of files that user ever landed in. Soundness
    * is the set-index contract: `pred` must imply "this row's key set
    * contains h", so an untouched file provably holds no matching rows.
    * `idx` names the lineage's sidecars (it must include the set index);
    * they carry over for untouched files and are recomputed for
    * rewritten ones. Prior versions still time-travel to the
    * pre-deletion data until vacuumed (retention is the compliance
    * clock: vacuum after the grace window IS the physical erasure). */
  def deleteMatching(
      spark: SparkSession, root: String, h: Long, pred: Column,
      idx: Sidecars): Snapshot = {
    require(idx.set.nonEmpty,
      "deleteMatching targets files through the set index — name it in Sidecars(set = …)")
    val s = tip(spark, root, idx)
    val hitFiles = keptBySet(spark, root, s.version,
      graft.plans.BloomSetAgg.mightContain(_, h))
    if (hitFiles.isEmpty) return s // nothing can match — no new version
    val hitCanon = hitFiles.map(canon).toSet
    val survivors = spark.read.parquet(hitFiles: _*)
      .filter(!coalesce(pred, lit(false)))
      .coalesce(hitFiles.size)
    commitStep(spark, root, Some(s), s.files.filterNot(f => hitCanon.contains(canon(f))),
      writeFiles(survivors, root), idx)
  }

  /** RANGE EXPIRY — ClickHouse's `TTL … DELETE` / `DROP PARTITION` on
    * the zone-mapped store: retire every row with `c < cutoff`. The
    * zone maps make this ALMOST FREE on a range-clustered layout —
    * files wholly below the cutoff are simply omitted from the next
    * manifest (a metadata-only drop, no I/O at all; at 100 TB, daily
    * TTL = dropping one day's files from the manifest), files wholly at
    * or above it carry verbatim, and only the straddling boundary files
    * (≤ the cluster overlap, usually 1) rewrite with the residual
    * filter. All-null-`c` files cannot be classified and are rewritten
    * (the filter keeps null-`c` rows — strict `c < cutoff` deletion,
    * same null convention as [[deleteMatching]]). `idx` names the
    * lineage's sidecars, `c` among its stats; sidecar rows carry for
    * kept files and are recomputed for rewritten ones. Prior versions
    * time-travel until vacuum, which is the retention/erasure clock. */
  def expireBelow(
      spark: SparkSession, root: String, c: String, cutoff: Any,
      idx: Sidecars): Snapshot = {
    require(idx.stats.contains(c), s"expiry column '$c' must be a stats column")
    val s = tip(spark, root, idx)
    val mn = col(s"${c}__min")
    val mx = col(s"${c}__max")
    // a whole-file drop must prove EVERY row matches `c < cutoff` —
    // null-c rows are invisible to min/max but kept by the strict-<
    // policy, so any file carrying nulls can at most be rewritten;
    // whole-file keeps are safe with nulls (null rows are kept anyway)
    val parts = statsOf(spark, root, s.version).select(col("file"),
        (mx.isNotNull && mx < lit(cutoff) &&
          col(s"${c}__nulls") === lit(0L)).as("drop"),
        (mn.isNotNull && mn >= lit(cutoff)).as("keep"))
      .collect()
    val keepCanon = parts.filter(_.getAs[Boolean]("keep"))
      .map(r => canon(r.getString(0))).toSet
    // dropped files need no action at all — they are simply absent from
    // the next manifest; boundary = neither kept nor dropped
    val boundary = parts
      .filter(r => !r.getAs[Boolean]("keep") && !r.getAs[Boolean]("drop"))
      .map(_.getString(0)).toSeq.sorted
    val newFiles =
      if (boundary.isEmpty) Seq.empty[String]
      else writeFiles(
        spark.read.parquet(boundary: _*)
          .filter(col(c).isNull || col(c) >= lit(cutoff))
          .coalesce(boundary.size),
        root)
    commitStep(spark, root, Some(s), s.files.filter(f => keepCanon.contains(canon(f))),
      newFiles, idx)
  }

  /** KEYED UPSERT — the ReplacingMergeTree merge made explicit on the
    * store (the reference's users table IS `ReplacingMergeTree ORDER BY
    * user_id`, `reference/seghouse/warehouse/clickhouse.py:113-117`):
    * batch rows replace same-key stored rows by last-write-wins, new
    * keys insert, and only the files whose set index might contain a
    * batch key are rewritten — O(victim files + batch), never O(table).
    * The per-file test is a multi-probe of the file's Bloom against the
    * batch's distinct key hashes (`idx.set`'s keys over the batch;
    * driver-side, files × batch-keys — metadata × batch, the "batch ≪
    * table" shape every upsert assumes; the batch's distinct hashes are
    * collected, which is the same bound). Rewrite = LWW over (hit-file
    * rows ∪ batch) via `etl.Dedup.lastWriteWins` — the q14/O-21
    * semantics; Bloom false positives only widen the rewrite set, and a
    * key in NO file is simply inserted (it rides the union). Batch schema
    * must match the stored schema (unionByName). Prior versions
    * time-travel. */
  def upsertKeyed(
      spark: SparkSession, root: String, batch: DataFrame,
      keyCols: Seq[String], verCol: String, tieBreak: Seq[Column],
      idx: Sidecars): Snapshot = {
    require(keyCols.nonEmpty, "upsertKeyed needs key columns")
    val set = idx.set.getOrElse(throw new IllegalArgumentException(
      "upsertKeyed targets files through the set index — name it in Sidecars(set = …)"))
    val s = tip(spark, root, idx)
    // the batch's distinct key hashes — bounded by the batch
    val ksDf = batch.select(set.keys.as("ks"))
    val hashes: Array[Long] = (ksDf.schema("ks").dataType match {
      case ArrayType(_, _) => ksDf.select(explode(col("ks")).as("h"))
      case _ => ksDf.select(col("ks").as("h"))
    }).filter(col("h").isNotNull).distinct().collect().map(_.getLong(0))
    val hitFiles = keptBySet(spark, root, s.version,
      graft.plans.BloomSetAgg.mightContainAny(_, hashes))
    val hitCanon = hitFiles.map(canon).toSet
    val stored =
      if (hitFiles.isEmpty) batch.filter(lit(false))
      else spark.read.parquet(hitFiles: _*)
    val resolved = graft.etl.Dedup.lastWriteWins(
      stored.unionByName(batch), keyCols, verCol, tieBreak)
      .coalesce(math.max(1, hitFiles.size))
    commitStep(spark, root, Some(s), s.files.filterNot(f => hitCanon.contains(canon(f))),
      writeFiles(resolved, root), idx)
  }

  /** COMPACTION — the explicit form of ClickHouse's background part
    * merge (MergeTree's whole operating principle, the reference's
    * warehouse): rewrite the current version's data as `targetFiles`
    * files and publish the result as the NEXT version of the same
    * lineage. An append-heavy ingest (q143/q146/appendIndexedBatches)
    * accumulates small files; compaction restores read efficiency and —
    * with `clusterCol` — re-establishes the global sort-key layout that
    * per-batch clustering only approximates (each batch was internally
    * clustered; compaction interleaves them back into tight disjoint
    * ranges, which is exactly what a MergeTree merge does to sorted
    * parts). Costs O(table) I/O by definition; rows are bit-identical.
    * Readers are never disturbed: the old version keeps its files until
    * vacuumed, the new version is one manifest rename away. `idx` names
    * the lineage's sidecars, which are recomputed for the new layout. */
  def compact(
      spark: SparkSession, root: String, targetFiles: Int,
      clusterCol: Option[String] = None,
      idx: Sidecars = Sidecars()): Snapshot = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val s = tip(spark, root, idx)
    require(s.files.nonEmpty, s"snapshot v${s.version} has no files to compact")
    val df = spark.read.parquet(s.files: _*)
    val laid = clusterCol match {
      case Some(c) => df.repartitionByRange(targetFiles, col(c))
      case None => df.coalesce(targetFiles)
    }
    commitStep(spark, root, Some(s), Seq.empty, writeFiles(laid, root), idx)
  }

  /** Retire every snapshot except the last `keepLast` and the published
    * one ([[publish]]): drops their manifests, then deletes every `data/`
    * subdirectory no kept manifest references — which also sweeps
    * crashed-commit orphans and `.tmp` manifests. Readers of kept
    * snapshots, [[readPublished]] among them, are untouched (their files
    * are never deleted); readers of dropped snapshots race with the
    * delete exactly as they would with any retention policy, which is why
    * `keepLast` exists. Returns the dropped version numbers.
    *
    * In-flight-commit safety (r7 advisor finding): a commit between
    * "data written" and "manifest renamed" looks exactly like a crashed
    * orphan, so a concurrent vacuum could delete its data and the later
    * manifest rename would still succeed — a committed snapshot pointing
    * at nothing. Two guards close the race without coordination:
    * unreferenced dirs YOUNGER than `orphanGraceMs` are skipped (no real
    * commit takes that long between write and rename), and the manifest
    * set is RE-READ after listing so a dir claimed by a manifest
    * committed mid-vacuum is spared regardless of age. Dirs referenced
    * only by DROPPED manifests are retired deliberately and deleted at
    * any age. */
  def vacuum(
      spark: SparkSession,
      root: String,
      keepLast: Int = 1,
      orphanGraceMs: Long = 3600000L
  ): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    require(orphanGraceMs >= 0L, "orphanGraceMs must be >= 0")
    val vs = versions(spark, root)
    val published = publishedVersion(spark, root).toSet
    val dropped = vs.dropRight(keepLast).filterNot(published)
    val droppedSet = dropped.toSet
    val kept = vs.filterNot(droppedSet)
    def dirsOf(versions: Seq[Int]): Set[String] = versions
      .flatMap(v => snapshot(spark, root, Some(v)).files)
      .map(f => new Path(f).getParent.toString).toSet
    val keptDirs = dirsOf(kept)
    val droppedDirs = dirsOf(dropped) -- keptDirs
    val dataDir = new Path(root, "data")
    val f = fs(spark, dataDir)
    if (f.exists(dataDir)) {
      val candidates = f.listStatus(dataDir).toSeq
        .filterNot(st => keptDirs.contains(st.getPath.toString))
      // re-read AFTER the listing: a manifest committed while we listed
      // may reference a dir that looked orphaned a moment ago (the
      // to-be-dropped manifests don't count — their dirs ARE retired)
      val nowReferenced = dirsOf(versions(spark, root).filterNot(droppedSet))
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      candidates
        .filterNot(st => nowReferenced.contains(st.getPath.toString))
        .filter(st => droppedDirs.contains(st.getPath.toString) ||
          st.getModificationTime <= cutoff)
        .foreach(st => f.delete(st.getPath, true))
    }
    val mdir = manifestDir(root)
    dropped.foreach { v =>
      f.delete(new Path(mdir, s"v$v.json"), false)
      f.delete(statsDir(root, v), true)    // retired zone-map sidecar
      f.delete(setIndexDir(root, v), true) // retired set-index sidecar
    }
    if (f.exists(mdir)) {
      // .tmp manifests get the same grace as orphan data dirs: a young
      // .tmp may be a commit BETWEEN write and rename — sweeping it would
      // fail that commit's rename (the same race the data-dir grace
      // closes; only crashed commits leave an OLD .tmp behind)
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      f.listStatus(mdir).toSeq
        .filter(st => st.getPath.getName.endsWith(".json.tmp") &&
          st.getModificationTime <= cutoff)
        .foreach(st => f.delete(st.getPath, false))
      // orphan sidecars (stats/set-index written, manifest rename never
      // happened) get the same crashed-commit treatment: invisible to
      // readers, swept once they outlive the grace
      val committed = versions(spark, root).toSet
      f.listStatus(mdir).toSeq
        .filter { st =>
          val n = st.getPath.getName
          n.matches("v\\d+\\.(stats|setidx)") &&
            !committed.contains(
              n.stripPrefix("v").replaceAll("\\.(stats|setidx)$", "").toInt) &&
            st.getModificationTime <= cutoff
        }
        .foreach(st => f.delete(st.getPath, true))
    }
    dropped
  }
}
