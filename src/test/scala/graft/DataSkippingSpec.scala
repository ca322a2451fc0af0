package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path

import graft.sources.{DataSkipping, ManifestTable}
import graft.sources.ManifestTable.{ColStats, FileEntry}
import org.apache.spark.sql.functions._

/** Manifest-level data skipping: per-file min/max stats collected from
  * parquet footers at commit time, partition values decoded from hive
  * paths, and readWhere pruning files from METADATA before the scan.
  * Every test asserts both halves of the contract: fewer files given to
  * the scan AND results identical to the unpruned read + filter. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-skip").toString

  private def hconf = spark.sparkContext.hadoopConfiguration

  // ------------------------------------------------------------ encoding

  test("stats encode/decode round-trips, including separator characters") {
    val stats = Map(
      "plain"  -> ColStats('n', "-12.5", "99"),
      "str"    -> ColStats('s', "a,b:c%d", "z\tz", exact = true),
      "nd"     -> ColStats('s', "a", "b", 0, 5, exact = false,
                           ndv = Some("AgEHDAMIAQB=")),
      "wei rd" -> ColStats('s', "", "=,:"))
    assert(ManifestTable.decodeStats(ManifestTable.encodeStats(stats)) == stats)
    assert(ManifestTable.decodeStats("") == Map.empty[String, ColStats])
    assert(ManifestTable.decodeStats(null) == Map.empty[String, ColStats])
    // legacy 6-part specs (pre-exactness-marker manifests) decode as
    // INEXACT — a bound written before the marker existed must never be
    // served as a MIN/MAX answer
    val legacy = "c:s:lo:hi:0:5"
    assert(ManifestTable.decodeStats(legacy) ==
      Map("c" -> ColStats('s', "lo", "hi", 0, 5)))
    assert(!ManifestTable.decodeStats(legacy)("c").exact)
  }

  test("manifest file= lines round-trip stats through write/read") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1L, 10.0, "alpha"), (2L, 20.0, "beta"))
      .toDF("id", "v", "name").coalesce(1), root)
    val st = ManifestTable.current(spark, root).get
    assert(st.files.nonEmpty)
    // exact = true on every engine-written column: the commit read the
    // footer of a file this engine's own writer produced
    val stats = st.files.head.stats
    assert(stats("id") == ColStats('n', "1", "2", 0, 2, exact = true))
    assert(stats("v") == ColStats('n', "10", "20", 0, 2, exact = true)
      || stats("v") == ColStats('n', "10.0", "20.0", 0, 2, exact = true), stats("v"))
    assert(stats("name") == ColStats('s', "alpha", "beta", 0, 2, exact = true))
  }

  // ------------------------------------------------------- footer stats

  test("footerStats canonicalizes numerics, dates, timestamps; skips all-null") {
    val dir = tmp()
    val ts1 = Timestamp.valueOf("2024-01-10 00:00:01")
    val ts2 = Timestamp.valueOf("2024-02-10 00:00:01")
    val df = Seq(
      (1L, 3, 1.5f, 2.5, "abc", java.sql.Date.valueOf("2024-01-10"),
        ts1, Option.empty[String]),
      (9L, 7, 0.5f, 7.5, "xyz", java.sql.Date.valueOf("2024-02-10"),
        ts2, Option.empty[String]))
      .toDF("l", "i", "f", "d", "s", "dt", "ts", "nul")
    // MICROS like manifest generation writes — the INT96 session default
    // carries no footer stats at all for timestamp columns
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try df.coalesce(1).write.parquet(dir + "/p")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val file = new Path(dir + "/p").getFileSystem(hconf)
      .globStatus(new Path(dir + "/p/*.parquet")).head.getPath
    val stats = DataSkipping.footerStats(hconf, file)
    // exact = true throughout: footer reads happen at commit time on
    // files the engine's own (untruncating) writer produced
    assert(stats("l") == ColStats('n', "1", "9", 0, 2, exact = true))
    assert(stats("i") == ColStats('n', "3", "7", 0, 2, exact = true))
    assert(stats("f") == ColStats('n', "0.5", "1.5", 0, 2, exact = true))
    assert(stats("d") == ColStats('n', "2.5", "7.5", 0, 2, exact = true))
    assert(stats("s") == ColStats('s', "abc", "xyz", 0, 2, exact = true))
    // DateType canonical = epoch days (Catalyst internal repr), its OWN
    // kind 'd' so days never compare against micros
    assert(stats("dt") == ColStats('d',
      java.time.LocalDate.parse("2024-01-10").toEpochDay.toString,
      java.time.LocalDate.parse("2024-02-10").toEpochDay.toString, 0, 2,
      exact = true))
    // TimestampType canonical = epoch micros (derived from the same
    // Timestamp objects so the assertion is JVM-timezone independent),
    // kind 't'
    assert(stats("ts") == ColStats('t',
      (ts1.getTime * 1000L).toString, (ts2.getTime * 1000L).toString, 0, 2,
      exact = true))
    // all-null column: no bounds, but null/value counts still recorded —
    // IS NOT NULL and every comparison can prove the file irrelevant
    assert(stats("nul") == ColStats('_', "", "", 2, 2))
  }

  test("prune: null-count layer answers IS NULL / IS NOT NULL / all-null comparisons") {
    val files = Seq(
      fe("gen-a/p1.parquet", Map("v" -> ColStats('n', "0", "10", 0, 100))),   // no nulls
      fe("gen-a/p2.parquet", Map("v" -> ColStats('n', "5", "9", 40, 100))),   // mixed
      fe("gen-a/p3.parquet", Map("v" -> ColStats('_', "", "", 100, 100))),    // all null
      fe("gen-a/p4.parquet", Map("v" -> ColStats('n', "0", "99"))))           // legacy: counts unknown
    def paths(c: org.apache.spark.sql.Column) =
      DataSkipping.prune(files, c).map(_.relPath)
    assert(paths(col("v").isNull) ==
      Seq("gen-a/p2.parquet", "gen-a/p3.parquet", "gen-a/p4.parquet"))
    assert(paths(col("v").isNotNull) ==
      Seq("gen-a/p1.parquet", "gen-a/p2.parquet", "gen-a/p4.parquet"))
    assert(paths(col("v") <=> lit(null)) ==
      Seq("gen-a/p2.parquet", "gen-a/p3.parquet", "gen-a/p4.parquet"))
    // a comparison can never match a provably all-null file
    assert(paths(col("v") === 7) ==
      Seq("gen-a/p1.parquet", "gen-a/p2.parquet", "gen-a/p4.parquet"))
    assert(paths(col("v") < 100) ==
      Seq("gen-a/p1.parquet", "gen-a/p2.parquet", "gen-a/p4.parquet"))
  }

  // ---------------------------------------------------------- prune unit

  private def fe(path: String, stats: Map[String, ColStats] = Map.empty) =
    FileEntry(path, 100L, stats)

  test("prune: partition equality, IN, null, and range predicates are exact") {
    val files = Seq(
      fe("gen-a/day=2024-01-01/p1.parquet"),
      fe("gen-a/day=2024-01-02/p2.parquet"),
      fe("gen-a/day=__HIVE_DEFAULT_PARTITION__/p3.parquet"))
    def paths(c: org.apache.spark.sql.Column) =
      DataSkipping.prune(files, c).map(_.relPath)
    assert(paths(col("day") === "2024-01-02") ==
      Seq("gen-a/day=2024-01-02/p2.parquet"))
    assert(paths(col("day").isin("2024-01-01", "2024-01-02")).size == 2)
    assert(paths(col("day").isNull) == Seq("gen-a/day=__HIVE_DEFAULT_PARTITION__/p3.parquet"))
    assert(paths(col("day").isNotNull).size == 2)
    assert(paths(col("day") >= "2024-01-02") == Seq("gen-a/day=2024-01-02/p2.parquet"))
    assert(paths(lit("2024-01-02") <= col("day")) == Seq("gen-a/day=2024-01-02/p2.parquet"))
    // conjunction: each conjunct prunes independently
    assert(paths(col("day") === "2024-01-01" && col("other") === 5).size == 1)
  }

  test("prune: stats ranges keep overlapping files only, unknowns conservatively") {
    val files = Seq(
      fe("gen-a/p1.parquet", Map("v" -> ColStats('n', "0", "10"))),
      fe("gen-a/p2.parquet", Map("v" -> ColStats('n', "20", "30"))),
      fe("gen-a/p3.parquet")) // no stats: always kept
    def paths(c: org.apache.spark.sql.Column) =
      DataSkipping.prune(files, c).map(_.relPath)
    assert(paths(col("v") === 25) == Seq("gen-a/p2.parquet", "gen-a/p3.parquet"))
    assert(paths(col("v") < 5) == Seq("gen-a/p1.parquet", "gen-a/p3.parquet"))
    assert(paths(col("v") <= 20) == Seq("gen-a/p1.parquet", "gen-a/p2.parquet", "gen-a/p3.parquet"))
    assert(paths(col("v") > 30) == Seq("gen-a/p3.parquet"))
    assert(paths(lit(15) < col("v")) == Seq("gen-a/p2.parquet", "gen-a/p3.parquet"))
    assert(paths(col("v").isin(11, 19)) == Seq("gen-a/p3.parquet"))
    // IS NULL can't be answered by min/max (no null counts): keep all
    assert(paths(col("v").isNull).size == 3)
    // kind mismatch (string literal vs numeric stats): keep all
    assert(paths(col("v") === "x").size == 3)
    // unrecognized conjunct (OR, function call): prunes nothing
    assert(paths(col("v") === 25 || col("v") === 1).size == 3)
    assert(paths(abs(col("v")) === 25).size == 3)
  }

  test("prune: startsWith becomes a [prefix, successor) range probe") {
    val files = Seq(
      fe("gen-a/p1.parquet", Map("s" -> ColStats('s', "apple", "banana", 0, 10))),
      fe("gen-a/p2.parquet", Map("s" -> ColStats('s', "cherry", "grape", 0, 10))),
      fe("gen-a/day=2024-01-02/p3.parquet"))
    def paths(c: org.apache.spark.sql.Column) =
      DataSkipping.prune(files, c).map(_.relPath)
    assert(paths(col("s").startsWith("ba")) == Seq("gen-a/p1.parquet",
      "gen-a/day=2024-01-02/p3.parquet"))
    assert(paths(col("s").startsWith("d")) == Seq("gen-a/p2.parquet",
      "gen-a/day=2024-01-02/p3.parquet"))
    // boundary: prefix between the two ranges keeps neither stats file
    assert(paths(col("s").startsWith("bz")) == Seq("gen-a/day=2024-01-02/p3.parquet"))
    // prefix covering a whole range keeps it
    assert(paths(col("s").startsWith("a")) == Seq("gen-a/p1.parquet",
      "gen-a/day=2024-01-02/p3.parquet"))
    // partition values match exactly
    assert(paths(col("day").startsWith("2024-01")).size == 3)
    assert(paths(col("day").startsWith("2024-02")) ==
      Seq("gen-a/p1.parquet", "gen-a/p2.parquet"))
    // e2e: identical rows, fewer files
    val root = tmp() + "/t"
    import spark.implicits._
    val df = (0 until 400).map(i => (f"u${i % 4}%s-${i}%03d", i.toLong)).toDF("tag", "id")
      .repartitionByRange(4, col("tag"))
    ManifestTable.write(df, root)
    val pruned = ManifestTable.readWhere(spark, root, col("tag").startsWith("u2"))
    val full = ManifestTable.read(spark, root)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.orderBy("id").collect().toSeq ==
      full.filter(col("tag").startsWith("u2")).orderBy("id").collect().toSeq)
  }

  test("prune: IN over literals canonLit cannot canonicalize keeps all files") {
    val files = Seq(
      fe("gen-a/p1.parquet", Map("flag" -> ColStats('_', "", "", 0, 100),
                                 "v"    -> ColStats('n', "0", "10", 0, 100))),
      fe("gen-a/p2.parquet", Map("flag" -> ColStats('_', "", "", 0, 100),
                                 "v"    -> ColStats('n', "20", "30", 0, 100))))
    def paths(c: org.apache.spark.sql.Column) =
      DataSkipping.prune(files, c).map(_.relPath)
    // booleans have no canonical stat form — the conjunct must degrade to
    // "keep all", NOT to an empty probe set that prunes every file
    assert(paths(col("flag").isin(true)).size == 2)
    assert(paths(col("flag").isin(true, false)).size == 2)
    // a mixed list with one uncanonicalizable literal degrades the WHOLE
    // conjunct (dropping just that element would under-keep)
    assert(paths(col("v").isin(lit(25), lit(true))).size == 2)
    // null ELEMENTS alone are still safe to drop: IN (NULL) matches no row,
    // and IN (25, NULL) prunes like IN (25)
    assert(paths(col("v").isin(lit(25), lit(null))) == Seq("gen-a/p2.parquet"))
  }

  test("prune: date stats never compare against timestamp literals (cross-scale)") {
    val day = java.time.LocalDate.parse("2024-01-15").toEpochDay // ~19737
    val files = Seq(
      fe("gen-a/p1.parquet", Map("dt" -> ColStats('d', day.toString, (day + 30).toString, 0, 100))))
    def paths(c: org.apache.spark.sql.Column) =
      DataSkipping.prune(files, c).map(_.relPath)
    // dateCol > timestamp-literal: Spark coerces to a timestamp compare;
    // days-vs-micros is a kind MISMATCH here, so the file is KEPT even
    // though 19737 days < 1.7e15 micros numerically
    assert(paths(col("dt") > lit(Timestamp.valueOf("2024-01-01 00:00:00"))).size == 1)
    assert(paths(col("dt") < lit(Timestamp.valueOf("2024-01-01 00:00:00"))).size == 1)
    // same-kind date literals still prune exactly
    assert(paths(col("dt") < lit(java.sql.Date.valueOf("2024-01-01"))).isEmpty)
    assert(paths(col("dt") >= lit(java.sql.Date.valueOf("2024-01-15"))).size == 1)
  }

  test("statsOnly: exact metadata-only count/null/min/max; honest nulls under evolution") {
    val root = tmp() + "/t"
    val df = Seq((1L, Some(10.0), "beta", "p1"), (2L, None, "alpha", "p1"),
        (3L, Some(30.5), "gamma", "p2"))
      .toDF("id", "v", "name", "p").repartition(2)
    ManifestTable.write(df, root, partitionCols = Seq("p"))
    val st = ManifestTable.statsOnly(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    // exact counts and bounds, multi-file fold
    assert(st("id").getLong(1) == 3 && st("id").getLong(2) == 0)
    assert(st("v").getLong(1) == 3 && st("v").getLong(2) == 1)
    assert(BigDecimal(st("v").getString(4)) == BigDecimal(10.0) &&
      BigDecimal(st("v").getString(5)) == BigDecimal(30.5))
    assert(st("name").getString(4) == "alpha" && st("name").getString(5) == "gamma")
    val sdf = ManifestTable.statsOnly(spark, root)
    assert(ManifestTable.statDouble(sdf, "v", "max").contains(30.5))
    assert(ManifestTable.statString(sdf, "name", "min").contains("alpha"))
    // additive evolution on a PARTITIONED table: only the touched
    // partition's new files carry the new column — its table-wide counts
    // and bounds must go NULL (unknown), never guess
    ManifestTable.upsertDedup(spark,
      Seq((4L, Some(99.0), "zz", "p3", 7.0)).toDF("id", "v", "name", "p", "extra"),
      root, keys = Seq("id"), order = "id", partitionCols = Seq("p"), mergeSchema = true)
    val st2 = ManifestTable.statsOnly(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st2("extra").isNullAt(1) && st2("extra").isNullAt(4))
    assert(st2("id").getLong(1) == 4) // evolved table, full column still exact
    // hive partition column: values from paths, row counts from sibling
    // column stats — exact count and string bounds
    assert(st2("p").getLong(1) == 4 && st2("p").getLong(2) == 0)
    assert(st2("p").getString(4) == "p1" && st2("p").getString(5) == "p3")
  }

  test("cluster zOrder: skipping bites on BOTH clustered columns, not just the sort prefix") {
    val root = tmp() + "/z"
    // 256x256 grid (a, b independent) with padding so the rewrite yields
    // a multi-file layout at 1 MB targets
    val n = 1 << 16
    val grid = spark.range(n).select(
      (col("id") % 256).as("a"),
      (col("id") / 256).as("b"),
      // high-entropy padding: compressible filler would collapse the
      // table into too few files for layout comparisons
      concat((0 until 8).map(i => md5(concat(col("id").cast("string"), lit(i)))): _*).as("pad"))
    ManifestTable.write(grid.repartition(8), root)
    val vLinear = ManifestTable.cluster(spark, root, sortCols = Seq("a", "b"), targetFileMB = 1)
    val linFiles = ManifestTable.current(spark, root).get.files.size
    assert(linFiles >= 8, s"need a multi-file layout, got $linFiles")
    val vZ = ManifestTable.cluster(spark, root, sortCols = Seq("a", "b"),
      targetFileMB = 1, zOrder = true)
    val zFiles = ManifestTable.current(spark, root).get.files.size

    def scanned(v: Long, f: org.apache.spark.sql.Column) =
      ManifestTable.readVersionWhere(spark, root, v, f).inputFiles.length
    val onB = col("b") === 7
    val onA = col("a") === 3
    // the linear layout sorts by a first: a-filters prune, b-filters do not
    assert(scanned(vLinear, onA) < linFiles)
    assert(scanned(vLinear, onB) == linFiles,
      "precondition: a linear (a,b) sort cannot skip on b alone")
    // the z-order layout prunes on EACH axis independently
    assert(scanned(vZ, onA) < zFiles, s"z-order a-filter scanned all $zFiles files")
    assert(scanned(vZ, onB) < zFiles, s"z-order b-filter scanned all $zFiles files")
    // and results are identical to the unpruned filter on both layouts
    val expectB = ManifestTable.read(spark, root).filter(onB)
      .select("a", "b").orderBy("a").collect().toSeq
    assert(ManifestTable.readVersionWhere(spark, root, vZ, onB)
      .select("a", "b").orderBy("a").collect().toSeq == expectB)
    assert(ManifestTable.readVersionWhere(spark, root, vLinear, onB)
      .select("a", "b").orderBy("a").collect().toSeq == expectB)
    // range predicates prune too (hyper-rectangle boxes, not just points)
    assert(scanned(vZ, col("b").between(100, 110)) < zFiles)
    // and a rewrite contributes nothing to the incremental change feed
    assert(ManifestTable.readChanges(spark, root, vLinear, vZ).count() == 0)
  }

  test("zkey: interleaved ranks are deterministic, order-preserving per axis, string-capable") {
    import graft.plans.ZOrder
    val df = spark.range(1000).select(
      col("id").cast("double").as("x"),
      concat(lit("k"), lpad((col("id") % 97).cast("string"), 3, "0")).as("s"))
    val keyed = df.withColumn("z", ZOrder.zkey(df, Seq("x", "s")))
      .withColumn("z2", ZOrder.zkey(df, Seq("x", "s")))
    // deterministic: two derivations agree row-for-row
    assert(keyed.filter(col("z") =!= col("z2")).count() == 0)
    // single-column zkey is monotone in the column's order
    val single = df.withColumn("z", ZOrder.zkey(df, Seq("x")))
      .orderBy("x").select("z").as[Long].collect()
    assert(single.sliding(2).forall(p => p(0) <= p(1)))
    // nulls rank lowest, never NULL out the key
    val withNull = Seq[(java.lang.Double, String)]((null, "a"), (5.0, "b"))
      .toDF("x", "s")
    val zRows = withNull.withColumn("z", ZOrder.zkey(withNull, Seq("x", "s")))
      .select("z").collect()
    assert(zRows.length == 2 && zRows.forall(!_.isNullAt(0)))
  }

  test("readWhereJoin: dim keys prune fact files; result equals the unpruned semi-join") {
    val root = tmp() + "/fact"
    // fact keyed 0..999, range-laid-out on the join key so per-file key
    // ranges are disjoint and key-based skipping can bite (at real scale
    // cluster() produces this layout; its MB-granular sizing keeps this
    // toy table in one file, so lay out directly here)
    val fact = (0 until 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.write(fact, root)
    val totalFiles = ManifestTable.current(spark, root).get.files.size
    assert(totalFiles > 2, s"need a multi-file layout, got $totalFiles")
    // a selective dim: 5 keys in one narrow range
    val dim = Seq(100L, 101L, 102L, 103L, 104L).toDF("dk")
    val pruned = ManifestTable.readWhereJoin(spark, root, dim, Seq("k" -> "dk"))
    val expect = ManifestTable.read(spark, root)
      .join(dim.distinct(), col("k") === col("dk"), "left_semi")
    assert(pruned.inputFiles.length < totalFiles,
      s"pruned=${pruned.inputFiles.length} total=$totalFiles")
    assert(pruned.orderBy("k").collect().toSeq == expect.orderBy("k").collect().toSeq)
    // dim with nulls and duplicates: nulls never equi-match, dupes collapse
    val dimN = Seq(Some(7L), Some(7L), None).toDF("dk")
    val got = ManifestTable.readWhereJoin(spark, root, dimN, Seq("k" -> "dk"))
    assert(got.select("k").as[Long].collect().toSeq == Seq(7L))
    // degenerate dim (no non-null keys) is empty, not a scan error
    assert(ManifestTable.readWhereJoin(spark, root,
      Seq(Option.empty[Long]).toDF("dk"), Seq("k" -> "dk")).count() == 0)
    // maxKeys overflow falls back to the unpruned semi-join, same rows
    val wide = (0 until 200).map(_.toLong).toDF("dk")
    val fb = ManifestTable.readWhereJoin(spark, root, wide, Seq("k" -> "dk"), maxKeys = 50)
    assert(fb.count() == 200)
    // hive-partitioned fact: dim keys on the partition column prune to
    // exactly the matching partitions' files (the q5/q10 star shape)
    val rootP = tmp() + "/factp"
    ManifestTable.write(
      (0 until 300).map(i => (s"r${i % 6}", i.toLong)).toDF("region", "id"),
      rootP, partitionCols = Seq("region"))
    val dimR = Seq("r2", "r4").toDF("dr")
    val prunedP = ManifestTable.readWhereJoin(spark, rootP, dimR, Seq("region" -> "dr"))
    val stP = ManifestTable.current(spark, rootP).get
    val expectFiles = stP.files.count(f =>
      Set("region=r2", "region=r4").contains(f.partitionPath))
    assert(prunedP.inputFiles.length == expectFiles)
    assert(prunedP.count() == 100)
  }

  test("readWhereJoin: one IN per key column keeps the per-value isin files and rows") {
    val root = tmp() + "/fact"
    ManifestTable.write((0 until 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartitionByRange(16, col("k")), root)
    val totalFiles = ManifestTable.current(spark, root).get.files.size
    // a wide dim in two narrow ranges, with a null and an INT key type
    // the analyzer widens to the fact's LONG
    val keys = (1000 until 3000) ++ (15000 until 15100)
    val dim = (keys.map(Option(_)) :+ None).toDF("dk")
    val got = ManifestTable.readWhereJoin(spark, root, dim, Seq("k" -> "dk"))
    // the per-value Column construction this path used before
    val viaIsin = ManifestTable.readWhere(spark, root, col("k").isin(keys: _*))
    assert(got.inputFiles.toSet == viaIsin.inputFiles.toSet)
    assert(got.inputFiles.length < totalFiles,
      s"pruned=${got.inputFiles.length} total=$totalFiles")
    val want = viaIsin.join(dim, col("k") === col("dk"), "left_semi")
    assert(got.orderBy("k").as[(Long, Double)].collect().toSeq ==
      want.orderBy("k").as[(Long, Double)].collect().toSeq)
    assert(got.count() == keys.size)
  }

  test("readWhere: date-vs-timestamp filter returns matching rows (e2e)") {
    val root = tmp() + "/t"
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-10")),
      (2L, java.sql.Date.valueOf("2024-03-10"))).toDF("id", "dt")
    ManifestTable.write(df, root)
    // the filter is legal Spark (date coerced to timestamp); before the
    // 'd'/'t' kind split this pruned EVERY file and silently returned
    // zero rows
    val f = col("dt") > lit(Timestamp.valueOf("2024-02-01 00:00:00"))
    val got = ManifestTable.readWhere(spark, root, f).select("id").as[Long].collect().toSeq
    val want = ManifestTable.read(spark, root).filter(f).select("id").as[Long].collect().toSeq
    assert(got == want && want == Seq(2L))
    // boolean isin e2e: unsupported literal kind must not empty the scan
    val root2 = tmp() + "/t2"
    ManifestTable.write(Seq((1L, true), (2L, false)).toDF("id", "flag"), root2)
    val got2 = ManifestTable.readWhere(spark, root2, col("flag").isin(true))
      .select("id").as[Long].collect().toSeq
    assert(got2 == Seq(1L))
  }

  // ----------------------------------------------------------------- e2e

  test("readWhere scans strictly fewer files under a partition filter, same result") {
    val root = tmp() + "/t"
    val df = (1 to 200).map(i => (s"2024-01-${"%02d".format(i % 10 + 1)}", i.toLong, i * 1.0))
      .toDF("day", "id", "v")
    ManifestTable.write(df, root, partitionCols = Seq("day"))
    val full = ManifestTable.read(spark, root)
    val pruned = ManifestTable.readWhere(spark, root, col("day") === "2024-01-03")
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruned=${pruned.inputFiles.length} full=${full.inputFiles.length}")
    val expect = full.filter(col("day") === "2024-01-03")
      .orderBy("id").collect().toSeq
    assert(pruned.orderBy("id").collect().toSeq == expect)
    // and the file count matches the one surviving partition exactly
    val st = ManifestTable.current(spark, root).get
    val expectFiles = st.files.count(_.partitionPath == "day=2024-01-03")
    assert(pruned.inputFiles.length == expectFiles)
  }

  test("readWhere skips generations by min/max stats on an unpartitioned table") {
    val root = tmp() + "/t"
    // three upserts with disjoint id ranges → three generations whose
    // files carry disjoint id stats
    ManifestTable.upsertDedup(spark, (1L to 100L).toDF("id").withColumn("v", lit("a")),
      root, Seq("id"), "v")
    ManifestTable.upsertDedup(spark, (101L to 200L).toDF("id").withColumn("v", lit("b")),
      root, Seq("id"), "v")
    // unpartitioned upsert rewrites — use write-once generations instead:
    val st1 = ManifestTable.current(spark, root).get
    assert(st1.files.forall(_.stats.contains("id")))
    val pruned = ManifestTable.readWhere(spark, root, col("id") <= 50L)
    val full = ManifestTable.read(spark, root)
    assert(pruned.orderBy("id").collect().toSeq ==
      full.filter(col("id") <= 50L).orderBy("id").collect().toSeq)
  }

  test("readWhere with stats pruning across partitioned generations") {
    val root = tmp() + "/t"
    // two partitions; within each, id ranges differ per commit so files
    // carry tight id stats
    ManifestTable.upsertDedup(spark,
      Seq(("p1", 1L, 1.0), ("p1", 2L, 1.0), ("p2", 500L, 1.0), ("p2", 501L, 1.0))
        .toDF("part", "id", "v"),
      root, Seq("id"), "v", Seq("part"))
    val full = ManifestTable.read(spark, root)
    // id <= 10 can only live in partition p1's files (stats prove it)
    val pruned = ManifestTable.readWhere(spark, root, col("id") <= 10L)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruned=${pruned.inputFiles.length} full=${full.inputFiles.length}")
    assert(pruned.select("part", "id").orderBy("id").as[(String, Long)].collect().toSeq ==
      Seq(("p1", 1L), ("p1", 2L)))
  }

  test("readWhere on an empty match returns the schema with zero rows, zero scans") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "s"), root)
    val none = ManifestTable.readWhere(spark, root, col("id") === 999L)
    assert(none.columns.toSeq == Seq("id", "s"))
    assert(none.count() == 0)
    assert(none.inputFiles.isEmpty)
  }

  test("cluster makes per-file ranges disjoint: range query scans fewer files after") {
    val root = tmp() + "/t"
    // interleaved writes: every file spans nearly the full id range, so
    // stats skipping can prove nothing before clustering
    val df = spark.range(600000).select(col("id"),
      rand(11).as("v"), // incompressible: keeps the rewrite multi-file
      expr("uuid()").as("pad"))
      .repartition(8) // round-robin: each file gets a slice of ALL ids
    ManifestTable.write(df, root)
    val q = col("id") >= 1000L && col("id") < 3000L
    val before = ManifestTable.readWhere(spark, root, q)
    val beforeFiles = before.inputFiles.length
    assert(beforeFiles == 8, s"precondition: overlapping files, got $beforeFiles")
    val expect = before.orderBy("id").collect().toSeq

    val v = ManifestTable.cluster(spark, root, Seq("id"), targetFileMB = 1)
    assert(v == 2L)
    val st = ManifestTable.current(spark, root).get
    assert(st.files.size > 1, "cluster must still produce multiple files for this test")
    // disjointness: no two files' id ranges overlap
    val ranges = st.files.map(f => (BigDecimal(f.stats("id").min), BigDecimal(f.stats("id").max)))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, s"overlap: $ranges")
      case _ => ()
    }
    val after = ManifestTable.readWhere(spark, root, q)
    assert(after.inputFiles.length < beforeFiles,
      s"after=${after.inputFiles.length} before=$beforeFiles")
    assert(after.orderBy("id").collect().toSeq == expect)
  }

  test("cluster preserves hive partitions and tags; skips within each partition") {
    val root = tmp() + "/t"
    val df = spark.range(8000).select(
      concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
      col("id"), rand(7).as("v"))
    ManifestTable.upsertDedup(spark, df, root, Seq("id"), "v", Seq("part"),
      tags = Map("who" -> "spec"))
    ManifestTable.cluster(spark, root, Seq("id"), targetFileMB = 1)
    val st = ManifestTable.current(spark, root).get
    assert(st.tags("who") == "spec", "rewrite must carry tags forward")
    assert(st.files.map(_.partitionPath).toSet == Set("part=p0", "part=p1"))
    val q = col("part") === "p0" && col("id") < 500L
    val pruned = ManifestTable.readWhere(spark, root, q)
    val full = ManifestTable.read(spark, root)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.count() == full.filter(q).count())
  }

  test("readVersionWhere prunes a time-travel version identically") {
    val root = tmp() + "/t"
    ManifestTable.write((1L to 100L).toDF("id").withColumn("tag", lit("v1")), root)
    ManifestTable.write((1L to 100L).toDF("id").withColumn("tag", lit("v2")), root)
    val old = ManifestTable.readVersionWhere(spark, root, 1L, col("id") <= 10L)
    assert(old.select("tag").distinct().as[String].collect().toSeq == Seq("v1"))
    assert(old.count() == 10)
    // a predicate outside v1's range scans nothing
    assert(ManifestTable.readVersionWhere(spark, root, 1L, col("id") > 1000L)
      .inputFiles.isEmpty)
  }

  test("property: readWhere equals read().filter() for random predicates on random tables") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // three fixed table shapes, many random predicates: pruning is the
    // variable under test, so spend the budget on predicate diversity
    val rnd = new scala.util.Random(42)
    // boolean, date and timestamp columns joined the shapes in r11:
    // the r10 ADVICE holes (boolean IN constant-false, days-vs-micros
    // cross-scale compares) lived exactly in the classes the generator
    // never produced
    def rows(n: Int) = (0 until n).map { i =>
      (if (rnd.nextInt(5) == 0) null else s"p${i % 3}",
        i.toLong,
        if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(50).toDouble),
        Seq("alpha", "beta", "gamma", "delta")(rnd.nextInt(4)),
        rnd.nextBoolean(),
        java.sql.Date.valueOf(s"2024-0${1 + rnd.nextInt(3)}-${10 + rnd.nextInt(10)}"),
        java.sql.Timestamp.valueOf(s"2024-01-${10 + rnd.nextInt(10)} 0${rnd.nextInt(9)}:00:00"))
    }
    val cols = Seq("part", "id", "v", "s", "flag", "d", "ts")
    val unpart = tmp() + "/u"
    ManifestTable.upsertDedup(spark, rows(120).toDF(cols: _*),
      unpart, Seq("id"), "s")
    ManifestTable.upsertDedup(spark,
      rows(120).map(r => r.copy(_2 = r._2 + 200)).toDF(cols: _*),
      unpart, Seq("id"), "s")
    val parted = tmp() + "/p"
    ManifestTable.write(rows(150).toDF(cols: _*), parted, Seq("part"))
    val clustered = tmp() + "/c"
    ManifestTable.write(rows(150).toDF(cols: _*), clustered)
    ManifestTable.cluster(spark, clustered, Seq("id"), targetFileMB = 1)
    // round-12 shape: deletion vectors (two stacked MoR deletes, one
    // post-index) + a bloom index — random predicates must agree with
    // read().filter() through the anti-join AND the bloom exclusion
    val mor = tmp() + "/m"
    ManifestTable.write(rows(150).toDF(cols: _*).repartition(3), mor)
    ManifestTable.deleteMoR(spark, mor, col("id") % 7 === 0)
    ManifestTable.buildBloomIndex(spark, mor, Seq("id", "s"))
    ManifestTable.deleteMoR(spark, mor, col("s") === "beta" && col("id") < 50L)

    val atomGen: Gen[org.apache.spark.sql.Column] = for {
      c <- Gen.oneOf(cols)
      a <- {
        val litGen: Gen[Any] = c match {
          case "part" => Gen.oneOf("p0", "p1", "p2", "nope")
          case "id"   => Gen.choose(-5L, 400L)
          case "v"    => Gen.choose(-10.0, 60.0)
          case "s"    => Gen.oneOf("alpha", "beta", "zzz", "")
          case "flag" => Gen.oneOf(true, false)
          case "d" => Gen.oneOf( // date AND timestamp literals: the
            // cross-scale compare (days vs micros) must stay conservative
            java.sql.Date.valueOf("2024-01-15"), java.sql.Date.valueOf("2024-02-20"),
            java.sql.Timestamp.valueOf("2024-02-01 12:00:00"))
          case "ts" => Gen.oneOf(
            java.sql.Timestamp.valueOf("2024-01-12 03:00:00"),
            java.sql.Timestamp.valueOf("2024-01-18 00:00:00"),
            java.sql.Date.valueOf("2024-01-15"))
        }
        val base = Seq[Gen[org.apache.spark.sql.Column]](
          litGen.map(v => col(c) === lit(v)),
          litGen.map(v => col(c) < lit(v)),
          litGen.map(v => col(c) <= lit(v)),
          litGen.map(v => col(c) > lit(v)),
          litGen.map(v => col(c) >= lit(v)),
          Gen.listOfN(3, litGen).map(vs => col(c).isin(vs: _*)),
          Gen.const(col(c).isNull),
          Gen.const(col(c).isNotNull),
          litGen.map(v => col(c) <=> lit(v)))
        val withPrefix = if (c == "s" || c == "part")
          base :+ Gen.oneOf("a", "be", "p", "zz", "").map(p => col(c).startsWith(p))
        else base
        Gen.oneOf[Gen[org.apache.spark.sql.Column]](
          withPrefix.head, withPrefix.tail.head, withPrefix.drop(2): _*).flatMap(identity)
      }
    } yield a
    val predGen: Gen[org.apache.spark.sql.Column] =
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, atomGen).map(_.reduce(_ && _)))

    val roots = Seq(unpart, parted, clustered, mor)
    val prop = Prop.forAll(predGen, Gen.oneOf(roots)) { (pred, root) =>
      val got = ManifestTable.readWhere(spark, root, pred)
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val expect = ManifestTable.read(spark, root).filter(pred)
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      got == expect
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(r.passed, r.status.toString)
  }

  test("readWhere keeps row-group pushdown below the manifest file pruning") {
    // three pruning layers must coexist: manifest metadata drops whole
    // files, Spark's partition filter handles the hive dirs, and the
    // residual predicate still reaches the parquet reader for row-group
    // skipping — readWhere must not flatten the scan into a plain
    // filter-after-read
    val root = tmp() + "/t"
    ManifestTable.write(
      (1L to 1000L).map(i => (s"p${i % 3}", i, i * 2.0)).toDF("part", "id", "v"),
      root, Seq("part"))
    val plan = ManifestTable.readWhere(spark, root,
        col("part") === "p1" && col("id") > 500L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,500)]"), plan)
    assert(plan.contains("PartitionFilters: [isnotnull(part"), plan)
  }

  test("legacy two-field file= manifests still parse (stats optional)") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "s"), root)
    val st = ManifestTable.current(spark, root).get
    // rewrite the committed manifest with stats stripped (legacy format)
    val fs = new Path(root).getFileSystem(hconf)
    val mpath = new Path(root, f"_manifests/${st.version}%020d.txt")
    val legacy = st.files.map(f => s"file=${f.relPath}\t${f.bytes}")
      .mkString(s"version=${st.version}\n", "\n", "\ncommit=ok")
    fs.delete(mpath, false)
    val out = fs.create(mpath, true)
    out.write(legacy.getBytes("UTF-8")); out.close()
    val re = ManifestTable.current(spark, root).get
    assert(re.files.map(f => (f.relPath, f.bytes)) ==
      st.files.map(f => (f.relPath, f.bytes)))
    assert(re.files.forall(_.stats.isEmpty))
    // readWhere still works — it just can't stats-prune
    assert(ManifestTable.readWhere(spark, root, col("id") === 1L).count() == 1)
  }
}
