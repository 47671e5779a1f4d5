package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.plans.{BloomSetAgg, PortableSketch, SketchFunctions}
import graft.functions.TextAnalysis
import graft.sink.SnapshotSink
import graft.sink.SnapshotSink.{SetIndex, Sidecars}

class BloomSetAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("bloom_setidx").toString

  private def h(s: String): Long =
    PortableSketch.md5Long(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  test("bloomSetAgg: no false negatives over scalar and array inputs, across partitions") {
    // 4 partitions force partial-aggregate merges (bitwise OR of filters)
    val scalar = spark.range(0, 1000).repartition(4)
      .select((col("id") * 2654435761L).as("k"))
    val bytes = scalar.agg(BloomSetAgg.bloomSetAgg(col("k"), 2000, 0.01))
      .head().getAs[Array[Byte]](0)
    (0L until 1000L).foreach { i =>
      assert(BloomSetAgg.mightContain(bytes, i * 2654435761L))
    }
    // array input: each row contributes its whole set; nulls skipped
    val arr = Seq(
      (1L, Seq("alpha", "beta")),
      (2L, Seq("gamma"))).toDF("id", "toks")
      .select(SketchFunctions.portableHash64(col("toks")).as("ks"))
    val b2 = arr.agg(BloomSetAgg.bloomSetAgg(col("ks"), 100, 0.01))
      .head().getAs[Array[Byte]](0)
    Seq("alpha", "beta", "gamma").foreach(t => assert(BloomSetAgg.mightContain(b2, h(t))))
    // false-positive rate sanity: absent keys mostly probe negative
    val misses = (5000L until 6000L).count(i => BloomSetAgg.mightContain(bytes, i))
    assert(misses < 100) // 1% nominal; generous bound
  }

  test("bloomSetAgg: filter bits are partitioning-invariant (order-free OR)") {
    def build(parts: Int): Seq[Byte] = spark.range(0, 500).repartition(parts)
      .select((col("id") * 9026583417L + 17L).as("k")) // distinct keys, ANSI-safe range
      .agg(BloomSetAgg.bloomSetAgg(col("k"), 1000, 0.01))
      .head().getAs[Array[Byte]](0).toSeq
    assert(build(1) == build(7))
  }

  test("set skipping index: keyword probe prunes files with disjoint vocab, result ≡ full scan") {
    val root = tmpRoot()
    // 8 files, each with its OWN vocabulary (word<fileNo>-...) — a probe
    // for one file's word must prune the other 7 (modulo Bloom fp)
    val docs = spark.range(0, 800)
      .select(col("id").as("doc_id"),
        concat(lit("word"), (col("id") / 100).cast("long"),
          lit(" filler common text id"), col("id")).as("text"))
    SnapshotSink.commit(
      docs.repartitionByRange(8, col("doc_id")), root, Sidecars(set = Some(SetIndex(
        keys = SketchFunctions.portableHash64(TextAnalysis.tokens(col("text"))),
        expectedPerFile = 512))))
    val pr = SnapshotSink.readPruned(spark, root, probe = Some(h("word3")))
    assert(pr.totalFiles == 8)
    assert(pr.keptFiles <= 2) // 1 + possible rare fp
    val got = pr.df.filter(array_contains(TextAnalysis.tokens(col("text")), "word3"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (300L until 400L).toSet)
    // the common word keeps everything — and still answers exactly
    val all = SnapshotSink.readPruned(spark, root, probe = Some(h("filler")))
    assert(all.keptFiles == 8)
    // absent word: all files pruned (w.h.p.), schema preserved
    val none = SnapshotSink.readPruned(spark, root, probe = Some(h("absent-token-zz")))
    assert(none.df.columns.toSeq == Seq("doc_id", "text"))
    assert(none.df.count() == 0 || none.keptFiles <= 1) // fp tolerance
  }

  test("composite index: range ∩ membership keeps only the intersection, result ≡ full scan") {
    import graft.plans.SketchFunctions
    val root = tmpRoot()
    // 8 day-range files × one entity per day decade: entity e appears
    // only on days [e*10, e*10+9] — so a (day, entity) probe prunes on
    // BOTH axes and the intersection is no larger than either
    // single-index keep
    val rows = spark.range(0, 800)
      .select((col("id") % 80).as("day"),
        expr("(id % 80) DIV 10").as("entity"), // entity 0..7 tied to day decade
        col("id").as("v"))
    SnapshotSink.commit(
      rows.repartitionByRange(8, col("day")), root, Sidecars(Seq("day"),
        set = Some(SetIndex(SketchFunctions.portableHash64(
          array(col("entity").cast("string"))), 256L))))
    val h3 = h("3") // entity 3 lives only on days 30..39
    val both = SnapshotSink.readPruned(spark, root, Seq(("day", 30L, 39L)), Some(h3))
    assert(both.totalFiles == 8 && both.keptFiles <= 2)
    val got = both.df.filter(col("entity") === 3L)
      .agg(count(lit(1)), sum("v")).head()
    val want = rows.filter(col("entity") === 3L &&
        col("day").between(30L, 39L))
      .agg(count(lit(1)), sum("v")).head()
    assert(got.getLong(0) == want.getLong(0) && got.getLong(1) == want.getLong(1))
    // disjoint dimensions: day range where the entity never occurs →
    // empty intersection w.h.p., and the read still answers (empty)
    val none = SnapshotSink.readPruned(spark, root, Seq(("day", 70L, 79L)), Some(h3))
    assert(none.df.filter(col("entity") === 3L).count() == 0)
  }

  test("appendIndexed extends both sidecars across versions; both prunes work on the grown store") {
    import graft.plans.SketchFunctions
    val root = tmpRoot()
    def slab(lo: Long, hi: Long) = spark.range(lo, hi)
      .select((col("id") % 100).as("day"),
        expr("(id % 100) DIV 25").as("entity"), col("id").as("v"))
    def keys = SketchFunctions.portableHash64(array(col("entity").cast("string")))
    SnapshotSink.commit(
      slab(0, 200).repartitionByRange(4, col("day")), root,
      Sidecars(Seq("day"), set = Some(SetIndex(keys, 128L))))
    val s2 = SnapshotSink.append(
      slab(200, 400).repartitionByRange(4, col("day")), root,
      Sidecars(Seq("day"), set = Some(SetIndex(keys, 128L))))
    assert(s2.version == 2 && s2.rows == 400)
    assert(SnapshotSink.statsTable(spark, root).count() == 8)
    val both = SnapshotSink.readPruned(spark, root, Seq(("day", 25L, 49L)), Some(h("1")))
    assert(both.totalFiles == 8 && both.keptFiles <= 4) // entity 1 = days 25..49 slabs
    val got = both.df.filter(col("entity") === 1L).agg(sum("v")).head().getLong(0)
    val want = slab(0, 400).filter(col("entity") === 1L).agg(sum("v")).head().getLong(0)
    assert(got == want)
    // appending onto a set-index lineage without prior index raises
    val root2 = tmpRoot()
    SnapshotSink.commit(slab(0, 10), root2)
    val e = intercept[IllegalArgumentException](
      SnapshotSink.append(slab(10, 20), root2,
        Sidecars(set = Some(SetIndex(keys, 32L)))))
    assert(e.getMessage.contains("no set index"))
  }

  test("deleteMatching rewrites only bloom-targeted files; untouched files carry over verbatim") {
    import graft.plans.SketchFunctions
    val root = tmpRoot()
    // entity-bucketed: entity e in its own file (8 files, 100 rows each);
    // entity 3 rows carry a planted null twin to prove strict-TRUE keep
    val rows = spark.range(0, 800)
      .select(expr("id DIV 100").as("entity"), col("id").as("v"))
      .select(when(col("v") === 342L, lit(null)).otherwise(col("entity")).as("entity"),
        col("v"))
    def keys = SketchFunctions.portableHash64(array(col("entity").cast("string")))
    val idx = Sidecars(set = Some(SetIndex(keys, expectedPerFile = 256)))
    val s1 = SnapshotSink.commit(rows.repartition(8, col("entity")), root, idx)
    val s2 = SnapshotSink.deleteMatching(spark, root, h("3"),
      pred = col("entity") === 3L, idx = idx)
    assert(s2.version == 2)
    // only the victim's file(s) were rewritten — everything else
    // verbatim (hash-bucket collisions and Bloom fps can add a file or
    // two to the rewrite set, never subtract)
    val untouchedCarried = s1.files.toSet intersect s2.files.toSet
    assert(untouchedCarried.size >= s1.files.size - 2)
    assert(untouchedCarried.size < s1.files.size) // something WAS rewritten
    assert((s2.files.toSet -- s1.files.toSet).nonEmpty)
    // entity 3 strictly-TRUE rows gone; the null twin (pred null) kept
    val left = SnapshotSink.read(spark, root)
    assert(left.filter(col("entity") === 3L).count() == 0)
    assert(left.filter(col("entity").isNull).count() == 1)
    assert(s2.rows == 800L - 99L) // 100 entity-3 rows minus the null twin
    // the rebuilt index no longer claims entity 3 anywhere (modulo fp)
    assert(SnapshotSink.readPruned(spark, root, probe = Some(h("3"))).keptFiles <= 1)
    // pre-deletion version still time-travels until vacuumed
    assert(SnapshotSink.read(spark, root, Some(1))
      .filter(col("entity") === 3L).count() == 99)
    // probing an absent entity: no version bump, same snapshot back
    val s3 = SnapshotSink.deleteMatching(spark, root, h("zz-absent"),
      pred = col("entity") === 99L, idx = idx)
    assert(s3.version == 2)
  }

  test("upsertKeyed: replaces by LWW, inserts new keys, rewrites only targeted files") {
    import graft.plans.SketchFunctions
    val root = tmpRoot()
    // 4 entity-bucketed files of (k, ver, payload)
    val base = spark.range(0, 40)
      .select(col("id").as("k"), lit(1L).as("ver"),
        concat(lit("old"), col("id")).as("p"))
    def keys = SketchFunctions.portableHash64(array(col("k").cast("string")))
    val idx = Sidecars(set = Some(SetIndex(keys, expectedPerFile = 64)))
    val s1 = SnapshotSink.commit(base.repartition(4, col("k")), root, idx)
    // batch: k=7 updated twice (ver 3 wins), k=8 stale (ver 0 loses),
    // k=100 brand new
    val batch = Seq(
      (7L, 2L, "mid7"), (7L, 3L, "new7"),
      (8L, 0L, "stale8"),
      (100L, 5L, "new100")).toDF("k", "ver", "p")
    val s2 = SnapshotSink.upsertKeyed(spark, root, batch,
      keyCols = Seq("k"), verCol = "ver", tieBreak = Seq(col("p").asc), idx = idx)
    assert(s2.version == 2 && s2.rows == 41L) // 40 keys + inserted 100
    val m = SnapshotSink.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m(7L) == (3L, "new7"))   // highest ver wins over both batch rows
    assert(m(8L) == (1L, "old8"))   // stale batch row loses to stored
    assert(m(100L) == (5L, "new100")) // new key inserted
    assert(m(20L) == (1L, "old20")) // untouched keys intact
    // targeting: most base files carried verbatim
    val carried = s1.files.toSet intersect s2.files.toSet
    assert(carried.nonEmpty && carried.size < s1.files.size)
    // the new version's index resolves the inserted key
    assert(SnapshotSink.readPruned(spark, root, probe = Some(h("100"))).keptFiles >= 1)
    // v1 still time-travels to the pre-upsert state
    assert(SnapshotSink.read(spark, root, Some(1)).count() == 40L)
  }

  test("set skipping index: vacuum sweeps retired and orphan .setidx sidecars") {
    val root = tmpRoot()
    SnapshotSink.commit(
      Seq((1L, "a b")).toDF("k", "text"), root, Sidecars(set = Some(SetIndex(
        keys = graft.plans.SketchFunctions.portableHash64(
          graft.functions.TextAnalysis.tokens(org.apache.spark.sql.functions.col("text"))),
        expectedPerFile = 16))))
    SnapshotSink.commit(Seq((2L, "c")).toDF("k", "text"), root)
    new java.io.File(s"$root/_manifests/v9.setidx").mkdirs()
    SnapshotSink.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$root/_manifests/v1.setidx").exists())
    assert(!new java.io.File(s"$root/_manifests/v9.setidx").exists())
    // and reading a version without an index raises the pointed message
    val e = intercept[IllegalArgumentException](
      SnapshotSink.readPruned(spark, root, probe = Some(42L)))
    assert(e.getMessage.contains("no set index"))
  }
}
