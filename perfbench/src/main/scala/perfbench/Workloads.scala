package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.jobs.{JobConf, SendToWarehouseJob}
import perfbench.Main._

/** The three workloads. Each one times calls into the program's public
  * entry points only, and checks every timed operation's output. */
object Workloads {

  val Namespace = "bench"
  val SetupRounds = 3

  /** About 6k Segment events over 8 files, every type and 6 track event
    * names: the fan-out to 14 tables sets the cost. */
  val BatchCorpus = SegmentCorpus.Spec(events = 6000, files = 8, eventNames = 6,
    users = 3000, dupFrac = 0.01, misfitFrac = 0.001, unknownFrac = 0.01, spanHours = 48)

  /** A narrower vocabulary (tracks of 2 names, pages, identifies and an
    * unknown type) drained two files per micro-batch; later files
    * re-deliver a share of the messages of earlier ones. */
  val StreamCorpus = SegmentCorpus.Spec(events = 6000, files = 4, eventNames = 2,
    users = 3000, dupFrac = 0.05, misfitFrac = 0.001, unknownFrac = 0.01, spanHours = 8,
    types = Seq("track", "page", "identify"))
  val StreamFilesPerTrigger = 2

  /** Part of the query mix of the repository's Bench surface:
    * ETL-shaped queries (type split, users last-write-wins, coerce
    * misfits), job-latency-bound ones (a graph loop, a SnapshotSink
    * store) and compute-bound ones (triangles, MinHash pairs, a sketch
    * estimate), each counted once in sorted order. Each query runs twice
    * in a run, so the mix is kept to what one run can afford. */
  val Queries: Seq[String] = Seq(
    "q10_type_split", "q14_users_lww", "q18_coerce_misfits",
    "q26_minhash_pairs", "q89_selfjoin_estimate", "q148_composite_index_serve",
    "q178_triangle_stats", "q250_bfs_layers").sorted

  private val StreamingKeys = Seq("streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "B", "streaming.dup_dropped" -> "count", "streaming.state_updates" -> "count")
  private def queryKeys = Seq("query.jobs" -> "count", "query.task_s" -> "s", "query.driver_s" -> "s",
    "query.shuffle_bytes" -> "B", "query.spill_bytes" -> "B", "query.first_run_s" -> "s") ++
    Queries.map(q => s"query.$q.s" -> "s")
  private val IngestKeys = Seq("jobs.driver_s" -> "s", "jobs.tables" -> "count",
    "ingest.read_s" -> "s", "ingest.input_bytes" -> "B", "ingest.rows" -> "count",
    "ingest.flat_columns" -> "count",
    "sink.misfit_rows" -> "count", "sink.users_bytes_rewritten" -> "B")

  /** Zero for the per-layer metrics of code a workload never runs; every
    * other metric is set where it is measured, so one that goes
    * unmeasured is missing from the result, not zero. */
  private def bypassed(out: Outcome, keys: Seq[(String, String)]): Unit =
    keys.foreach { case (k, u) => out.perLayer(k) = M(0, u) }

  private def listen(spark: SparkSession, o: Opts): Option[LayerListener] =
    if (!o.trace) None
    else {
      val sampler = new StackSampler(5, Thread.currentThread)
      sampler.start()
      val l = new LayerListener(sampler)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }

  /** Runs `pass(k)` until the timed seconds reach the budget (at least
    * once); a pass returns its timing, or throws, which counts as one
    * failed operation. Publishes the median wall and CPU seconds of a
    * pass and returns the walls. */
  private def passes(o: Opts, out: Outcome)(pass: Int => Timing): Seq[Double] = {
    val timings = Seq.newBuilder[Timing]
    var spent = 0.0
    var k = 0
    while (k == 0 || spent < o.seconds) {
      try {
        val t = pass(k)
        timings += t
        spent += t.wall
      } catch {
        case NonFatal(e) =>
          out.failed += 1
          out.failures += s"pass $k: ${describe(e)}"
          spent += 1.0
      }
      k += 1
    }
    val ts = timings.result()
    out.endToEnd("pass_s") = M(median(ts.map(_.wall)), "s")
    out.perLayer("jvm.pass_cpu_s") = M(median(ts.map(_.cpu)), "s")
    ts.map(_.wall)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private val hadoopConf = new Configuration()

  /** Row counts of a warehouse's tables, from the parquet footers. */
  private def tableRows(db: File): Map[String, Long] =
    Option(db.listFiles).toSeq.flatten.filter(_.isDirectory).map { t =>
      def rows(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(rows).sum
        else if (f.getName.endsWith(".parquet")) {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), hadoopConf))
          try r.getRecordCount finally r.close()
        } else 0L
      t.getName -> rows(t)
    }.toMap

  /** Publishes the on-disk footprint of a warehouse: files, bytes per
    * input byte, tables and misfit rows. */
  private def footprint(out: Outcome, db: File, inputBytes: Long): Unit = {
    val (files, bytes) = diskUsage(db)
    out.perLayer("sink.files_written") = M(files.toDouble, "count")
    out.perLayer("sink.bytes_written") = M(bytes.toDouble, "B")
    out.endToEnd("stored_bytes_per_input_byte") = M(bytes.toDouble / inputBytes, "ratio")
    val rows = tableRows(db)
    out.perLayer("jobs.tables") = M(rows.size.toDouble, "count")
    out.perLayer("sink.misfit_rows") = M(rows.getOrElse("misfits", 0L).toDouble, "count")
  }

  // ------------------------------------------------------------ ingest_batch

  def ingestBatch(o: Opts): Outcome = {
    val out = new Outcome
    bypassed(out, StreamingKeys ++ queryKeys)
    val (spark, (corpus, manifest), setupS) = setUp(o, SetupRounds) { (s, dir) =>
      val in = new File(dir, "in")
      (in, SegmentCorpus.generate(BatchCorpus, o.seed, in))
    }
    out.endToEnd("setup_s") = M(setupS, "s")
    val listener = listen(spark, o)
    var lastWarehouse: File = null
    val walls = passes(o, out) { k =>
      val dir = new File(o.work, s"pass-$k")
      val in = new File(dir, "in")
      copyTree(corpus, in)
      val wh = new File(dir, "warehouse")
      val job = new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(wh.getPath)), Namespace)
      out.attempted += 1
      val w0 = System.currentTimeMillis()
      val (_, wall) = timed(job.execute(in.getPath))
      out.windows += ((w0, System.currentTimeMillis()))
      checkTables(spark, new File(wh, Namespace), manifest.tableRows, manifest, out, s"pass $k")
      if (lastWarehouse != null) deleteTree(lastWarehouse.getParentFile)
      lastWarehouse = wh
      wall
    }
    val pass = median(walls)
    if (lastWarehouse != null) footprint(out, new File(lastWarehouse, Namespace), manifest.rawBytes)
    out.report += f"ingest_events_per_s ${manifest.lines / pass}%.1f events/s " +
      s"(${manifest.lines} events, median of ${walls.size} execute calls)"
    out.report += f"stored_bytes_per_input_byte ${out.endToEnd.get("stored_bytes_per_input_byte").map(_.value).getOrElse(Double.NaN)}%.4f ratio " +
      s"(${manifest.rawBytes} uncompressed NDJSON bytes)"
    listener.foreach { l =>
      l.close()
      val driver = Trace.layers(l, out.windows.toSeq, out)
      out.perLayer("jobs.driver_s") = M(driver / out.windows.size, "s")
      ingestCounters(spark, l, out, corpus)
      out.perLayer("trace.pass_s") = M(pass, "s")
      scaleByPasses(out, out.windows.size)
    }
    spark.stop()
    out
  }

  /** Per-table row counts (misfits included) and the users
    * last-write-wins winners against the corpus manifest. */
  private def checkTables(spark: SparkSession, db: File, expected: Map[String, Long],
      m: SegmentCorpus.Manifest, out: Outcome, what: String): Unit = {
    val rows = tableRows(db)
    expected.foreach { case (t, n) =>
      out.check(rows.getOrElse(t, -1L) == n, s"$what: table $t has ${rows.getOrElse(t, -1L)} rows, expected $n")
    }
    (rows.keySet -- expected.keySet).foreach { t =>
      out.check(rows(t) == 0L, s"$what: unexpected table $t with ${rows(t)} rows")
    }
    val users = spark.read.parquet(new File(db, "users").getPath)
      .select("user_id", "message_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out.check(users == m.userWinners,
      s"$what: users winners differ from the manifest in " +
        s"${(users.toSet diff m.userWinners.toSet).size} of ${m.userWinners.size} users")
  }

  /** Counters of the ingest layer, from the traced jobs and one flatten:
    * the NDJSON read by whichever job scans it (the streaming file source
    * plans its own scan), and the users rewrite. */
  private def ingestCounters(spark: SparkSession, l: LayerListener, out: Outcome, corpus: File): Unit = {
    val jobs = Trace.inWindows(l, out.windows.toSeq)
    val n = out.windows.size.toDouble
    out.perLayer("ingest.read_s") = M(jobs.map(_.readMs).sum / 1e3 / n, "s")
    out.perLayer("ingest.input_bytes") = M(jobs.map(_.readBytes).sum / n, "B")
    out.perLayer("ingest.rows") = M(jobs.map(_.readRecords).sum / n, "count")
    out.perLayer("sink.users_bytes_rewritten") =
      M(jobs.filter(_.site.contains("upsertUsers")).map(_.outBytes).sum / n, "B")
    val raw = graft.ingest.Readers.ndjson(spark, corpus.getPath)
    out.perLayer("ingest.flat_columns") =
      M(new SendToWarehouseJob(spark, JobConf(), Namespace).normalize(raw).columns.length.toDouble, "count")
  }

  /** Layer totals are summed over every timed pass; report them per pass. */
  private def scaleByPasses(out: Outcome, passes: Int): Unit =
    if (passes > 1) LayerListener.Layers.foreach { l =>
      Seq("jobs", "job_s", "task_s", "gc_s").foreach { k =>
        val key = s"$l.$k"
        out.perLayer(key) = out.perLayer(key).copy(value = out.perLayer(key).value / passes)
      }
    }

  // ----------------------------------------------------------- ingest_stream

  def ingestStream(o: Opts): Outcome = {
    val out = new Outcome
    bypassed(out, queryKeys)
    val (spark, (corpus, manifest, schema), setupS) = setUp(o, SetupRounds) { (s, dir) =>
      val in = new File(dir, "in")
      val m = SegmentCorpus.generate(StreamCorpus, o.seed, in)
      (in, m, s.read.json(in.getPath).schema)
    }
    out.endToEnd("setup_s") = M(setupS, "s")
    val listener = listen(spark, o)
    val batchWalls = Seq.newBuilder[Double]
    var lastQuery: StreamingQuery = null
    var lastWarehouse: File = null
    val walls = passes(o, out) { k =>
      val dir = new File(o.work, s"pass-$k")
      val in = new File(dir, "in")
      copyTree(corpus, in)
      val wh = new File(dir, "warehouse")
      out.attempted += 1
      val w0 = System.currentTimeMillis()
      val (q, wall) = timed {
        val q = graft.streaming.StreamingSend.start(spark, JobConf(warehouseRoots = Seq(wh.getPath)),
          Namespace, in.getPath, schema, new File(dir, "checkpoint").getPath,
          trigger = Trigger.AvailableNow(), sourceOptions = Map("maxFilesPerTrigger" -> StreamFilesPerTrigger.toString))
        q.awaitTermination()
        q
      }
      out.windows += ((w0, System.currentTimeMillis()))
      q.exception.foreach(e => throw e)
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      batchWalls ++= progress.map(p => p.durationMs.get("triggerExecution").doubleValue / 1e3)
      out.check(progress.map(_.numInputRows).sum == manifest.lines,
        s"pass $k: stream read ${progress.map(_.numInputRows).sum} rows, corpus has ${manifest.lines}")
      val tracks = spark.read.parquet(new File(wh, s"$Namespace/tracks").getPath)
        .agg(count(lit(1)), countDistinct(col("message_id"))).head()
      out.check(tracks.getLong(0) == manifest.distinctTrackIds && tracks.getLong(1) == manifest.distinctTrackIds,
        s"pass $k: tracks holds ${tracks.getLong(0)} rows over ${tracks.getLong(1)} message ids, " +
          s"expected one row for each of ${manifest.distinctTrackIds}")
      checkTables(spark, new File(wh, Namespace), manifest.distinctTableRows, manifest, out, s"pass $k")
      if (lastWarehouse != null) deleteTree(lastWarehouse.getParentFile)
      lastWarehouse = wh
      lastQuery = q
      wall
    }
    val pass = median(walls)
    val batches = batchWalls.result()
    if (lastWarehouse != null)
      footprint(out, new File(lastWarehouse, Namespace), manifest.rawBytes)
    out.report += f"stream_events_per_s ${manifest.lines / pass}%.1f events/s " +
      s"(${manifest.lines} events, median of ${walls.size} drains)"
    out.report += f"stream_batch_p50_s ${median(batches)}%.3f s (${batches.size} micro-batches)"
    listener.foreach { l =>
      l.close()
      val driver = Trace.layers(l, out.windows.toSeq, out)
      out.perLayer("jobs.driver_s") = M(driver / out.windows.size, "s")
      ingestCounters(spark, l, out, corpus)
      out.perLayer("trace.pass_s") = M(pass, "s")
      scaleByPasses(out, out.windows.size)
      if (lastQuery != null) {
        val p = lastQuery.recentProgress.filter(_.numInputRows > 0)
        out.perLayer("streaming.batches") = M(p.length.toDouble, "count")
        val state = p.lastOption.flatMap(_.stateOperators.headOption)
        out.perLayer("streaming.state_rows") = M(state.map(_.numRowsTotal.toDouble).getOrElse(0), "count")
        out.perLayer("streaming.state_bytes") = M(state.map(_.memoryUsedBytes.toDouble).getOrElse(0), "B")
        out.perLayer("streaming.state_updates") =
          M(p.flatMap(_.stateOperators.headOption).map(_.numRowsUpdated).sum.toDouble, "count")
        val stored = tableRows(new File(lastWarehouse, Namespace))
        // rows the dedup let through: every stored event plus the unknown
        // type, which the job drops after the dedup
        val delivered = Seq("tracks", "pages", "screens", "identities").map(stored.getOrElse(_, 0L)).sum +
          manifest.unknownIds
        out.perLayer("streaming.dup_dropped") = M((p.map(_.numInputRows).sum - delivered).toDouble, "count")
      }
    }
    spark.stop()
    out
  }

  // --------------------------------------------------------------- query_mix

  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  def queryMix(o: Opts): Outcome = {
    val out = new Outcome
    bypassed(out, IngestKeys ++ StreamingKeys)
    // the tables are copied out of the checkout, so no query can touch them
    val (spark, tables, setupS) = setUp(o, SetupRounds) { (_, dir) =>
      val t = new File(dir, "tables")
      copyTree(o.data, t)
      t
    }
    out.endToEnd("setup_s") = M(setupS, "s")
    val inputBytes = diskUsage(tables)._2
    // untimed, first: each query runs once and its result is written to
    // parquet, for the DuckDB oracle compare in run.py. This is also the
    // warm-up: the timed count() of each query is its second execution in
    // the session, as in the passes of the repository's Bench.
    val results = new File(o.work, "results")
    val dump0 = System.nanoTime()
    Queries.foreach { q =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, tables.getPath)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(results, q).getPath)
      } catch {
        case NonFatal(e) => out.failures += s"$q: writing the result for the oracle failed: ${describe(e)}"
      }
      release(spark)
    }
    // work a change moves from a query's timed run into its first one shows here
    out.perLayer("query.first_run_s") = M((System.nanoTime() - dump0) / 1e9, "s")
    out.report += f"untimed first run of the ${Queries.size} queries, results written for the oracle: " +
      f"${out.perLayer("query.first_run_s").value}%.1f s"
    Files.write(new File(results, "oracle_sql.json").toPath,
      Queries.map(q => Json.str(q) + ":" + Json.str(graft.SparkEntry.oracleSql(q)))
        .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    // the timed pass starts from a collected heap, not from the first run's garbage
    System.gc()
    val listener = listen(spark, o)
    val perQuery = Queries.map(_ -> Seq.newBuilder[Double]).toMap
    val tmp = new File(sys.props("java.io.tmpdir"))
    val stored = Seq.newBuilder[Double]
    // one count() per query, as the repository's Bench times them
    val walls = passes(o, out) { _ =>
      var total = Timing(0, 0)
      Queries.foreach { q =>
        out.attempted += 1
        val w0 = System.currentTimeMillis()
        try {
          val (_, t) = timed(graft.SparkEntry.queries(q)(spark, tables.getPath).count())
          perQuery(q) += t.wall
          total += t
        } catch {
          case NonFatal(e) =>
            out.failed += 1
            out.failures += s"$q: ${describe(e)}"
        }
        out.windows += ((w0, System.currentTimeMillis()))
        release(spark)
      }
      stored += diskUsage(tmp)._2.toDouble
      total
    }
    val all = perQuery.values.flatMap(_.result()).toSeq
    out.endToEnd("stored_bytes_per_input_byte") = M(median(stored.result()) / inputBytes, "ratio")
    out.report += f"query_total_s ${median(walls)}%.3f s (median of ${walls.size} passes over ${Queries.size} queries)"
    out.report += f"query_p50_s ${median(all)}%.3f s (${all.size} query runs)"
    out.report += "query times: " + Queries.map(q => f"$q ${median(perQuery(q).result())}%.3f s").mkString(", ")
    listener.foreach { l =>
      l.close()
      val n = walls.size.toDouble
      val driver = Trace.layers(l, out.windows.toSeq, out)
      val jobs = Trace.inWindows(l, out.windows.toSeq)
      out.perLayer("query.jobs") = M(jobs.size / n, "count")
      out.perLayer("query.task_s") = M(jobs.map(_.taskMs).sum / 1e3 / n, "s")
      out.perLayer("query.driver_s") = M(driver / n, "s")
      out.perLayer("query.shuffle_bytes") = M(jobs.map(_.shuffleBytes).sum / n, "B")
      out.perLayer("query.spill_bytes") = M(jobs.map(_.spillBytes).sum / n, "B")
      out.perLayer("trace.pass_s") = M(median(walls), "s")
      val (files, bytes) = diskUsage(tmp)
      out.perLayer("sink.files_written") = M(files.toDouble, "count")
      out.perLayer("sink.bytes_written") = M(bytes.toDouble, "B")
      scaleByPasses(out, walls.size)
    }
    Queries.foreach(q => out.perLayer(s"query.$q.s") = M(median(perQuery(q).result()), "s"))
    spark.stop()
    out
  }
}
