package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{PortableSketch, SketchFunctions}
import graft.sink.SnapshotSink

/** At-scale evidence for the store's TARGETED maintenance ops (q154
  * delete / q155 upsert / q156 TTL / q153 metadata aggregate — the
  * AnnScaleCheck discipline): at gate scale a full-table rewrite and a
  * targeted rewrite cost about the same, because the whole table is a
  * few MBs; the O(victim files) claim only shows when the table dwarfs
  * the victim set. This tool builds a synthetic entity-bucketed,
  * day-clustered store (n rows, `buckets` files, deterministic hash
  * entities) and times each targeted op against its naive full-rewrite
  * twin:
  *
  *   - DELETE one entity: bloom-targeted rewrite vs read-all→filter→
  *     rewrite-all;
  *   - UPSERT a 1000-row batch: multi-probe targeted LWW vs full-union
  *     LWW rewrite;
  *   - TTL below a cutoff: manifest-drop + boundary rewrite vs full
  *     filter rewrite;
  *   - RANGE AGG: metadata-served count+sum vs full-scan aggregate.
  *
  * Run: `sbt "runMain graft.tools.StoreScaleCheck [n] [buckets]"`.
  * Results recorded in PLANS.md (scale-evidence section). */
object StoreScaleCheck {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(8000000L)
    val buckets = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import java.nio.file.Files
    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def h(s: String) =
      PortableSketch.md5Long(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // every store below carries the same sidecars, and every write names them
    val idx = SnapshotSink.Sidecars(stats = Seq("day"), sums = Seq("value"),
      set = Some(SnapshotSink.SetIndex(
        SketchFunctions.portableHash64(array(col("entity").cast("string"))), 200000L)))

    // entity-bucketed layout: entity = id mod buckets·16 (so ~16
    // entities per file), day rides along for the TTL/agg paths
    def synthetic(rows: Long): DataFrame = spark.range(rows).select(
      (col("id") % (buckets * 16)).as("entity"),
      (col("id") % 365).as("day"),
      (col("id") % 1000).cast("decimal(18,6)").as("value"))

    def freshStore(): String = {
      val root = Files.createTempDirectory("store_scale").toString
      SnapshotSink.commit(synthetic(n).repartition(buckets, col("entity")), root, idx)
      root
    }

    println(s"STORE_SCALE cpus=$cpus n=$n buckets=$buckets")
    val (tBuild, root) = time(freshStore())
    println(f"build store:                 $tBuild%8.2f s ($buckets files)")

    // DELETE one entity — targeted vs full rewrite
    val (tDel, s2) = time(SnapshotSink.deleteMatching(
      spark, root, h("7"), col("entity") === 7L, idx))
    val rewrittenDel = s2.files.toSet
      .diff(SnapshotSink.snapshot(spark, root, Some(s2.version - 1)).files.toSet).size
    val (tDelFull, _) = time {
      val all = SnapshotSink.read(spark, root)
        .filter(!(col("entity") === 8L)).repartition(buckets, col("entity"))
      SnapshotSink.commit(all, root, idx)
    }
    println(f"delete targeted:             $tDel%8.2f s ($rewrittenDel files rewritten)")
    println(f"delete full-rewrite:         $tDelFull%8.2f s ($buckets files rewritten)")

    // UPSERT a small batch — targeted vs full LWW rewrite
    val root2 = freshStore()
    val batch = spark.range(1000).select(
      (col("id") % 5).as("entity"), lit(999L).as("day"),
      lit(java.math.BigDecimal.valueOf(1.5)).cast("decimal(18,6)").as("value"))
    val (tUp, s3) = time(SnapshotSink.upsertKeyed(
      spark, root2, batch, Seq("entity"), "day", Seq(col("value").desc), idx))
    val rewrittenUp = s3.files.toSet
      .diff(SnapshotSink.snapshot(spark, root2, Some(s3.version - 1)).files.toSet).size
    val (tUpFull, _) = time {
      val merged = graft.etl.Dedup.lastWriteWins(
        SnapshotSink.read(spark, root2).unionByName(batch),
        Seq("entity"), "day", Seq(col("value").desc))
        .repartition(buckets, col("entity"))
      SnapshotSink.commit(merged, root2, idx)
    }
    println(f"upsert targeted:             $tUp%8.2f s ($rewrittenUp files rewritten)")
    println(f"upsert full-rewrite:         $tUpFull%8.2f s ($buckets files rewritten)")

    // RANGE AGG — metadata-served vs full scan (day-clustered lineage)
    val root3 = Files.createTempDirectory("store_scale_day").toString
    val dayIdx = idx.copy(set = None)
    SnapshotSink.commit(
      synthetic(n).repartitionByRange(buckets, col("day")), root3, dayIdx)
    val (tMeta, served) = time {
      val a = SnapshotSink.aggRangeFromStats(spark, root3, "day", 100L, 259L, "value")
      (a.df.collect(), a.metaFiles, a.scanFiles)
    }
    val (tScan, _) = time {
      SnapshotSink.read(spark, root3)
        .filter(col("day").between(100L, 259L))
        .agg(count(lit(1L)), sum(col("value").cast("decimal(18,6)"))).collect()
    }
    println(f"range agg metadata-served:   $tMeta%8.2f s (meta=${served._2} scan=${served._3})")
    println(f"range agg full-scan:         $tScan%8.2f s")

    // TTL — manifest drop + boundary rewrite vs full rewrite
    val (tTtl, s4) = time(
      SnapshotSink.expireBelow(spark, root3, "day", 180L, dayIdx))
    println(f"ttl targeted:                $tTtl%8.2f s (${s4.files.size} files after)")
    val (tTtlFull, _) = time {
      SnapshotSink.commit(
        SnapshotSink.read(spark, root3).filter(col("day") >= 180L)
          .repartitionByRange(buckets, col("day")),
        root3, dayIdx)
    }
    println(f"ttl full-rewrite:            $tTtlFull%8.2f s")
    spark.stop()
  }
}
