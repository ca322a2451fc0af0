package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SessionIsolation

import graft.sources.ManifestTable

/** The passes a commit issues: one MERGE source probe (duplicate
  * refusal + pruning key set), DML results written without an emptiness
  * pre-pass, compaction sized from manifest row counts, and local
  * batches planned once at the commit boundary. */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-commit").toString

  /** Generation dirs on disk under `root`. */
  private def gens(root: String): Set[String] = {
    val s = Files.list(Paths.get(root))
    try s.toArray.map(_.toString.split('/').last).filter(_.startsWith("gen-")).toSet
    finally s.close()
  }

  private def rows(root: String): Seq[(Long, String)] =
    ManifestTable.read(spark, root).select("k", "s").as[(Long, String)]
      .collect().toSeq.sorted

  test("merge refuses duplicate source keys beyond maxKeys, null-keyed duplicates too") {
    val root = tmp() + "/t"
    ManifestTable.write((1L to 10L).map(k => (k, s"v$k")).toDF("k", "s"), root)
    val v = ManifestTable.currentVersion(spark, root).get
    // five distinct keys against maxKeys = 2: the key set overflows, and
    // the duplicate sits among the later keys
    val dup = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (5L, "f"))
      .toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, dup, Seq("k"), maxKeys = 2)
    }
    assert(e.getMessage.contains("duplicate keys") && e.getMessage.contains("[5,2]"),
      e.getMessage)
    // two null-keyed rows group together and are refused the same way
    val nullDup = Seq((Some(1L), "a"), (None, "b"), (None, "c")).toDF("k", "s")
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, nullDup, Seq("k"))
    }
    assert(e2.getMessage.contains("duplicate keys") && e2.getMessage.contains("[null,2]"),
      e2.getMessage)
    assert(ManifestTable.currentVersion(spark, root).contains(v))
    // without a duplicate, the overflowing key set still merges exactly
    val ok = Seq((1L, "a"), (2L, "b"), (3L, "c"), (11L, "n")).toDF("k", "s")
    ManifestTable.merge(spark, root, ok, Seq("k"), maxKeys = 2)
    assert(rows(root) == ((4L to 10L).map(k => (k, s"v$k")) ++
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (11L, "n"))).sorted)
  }

  /** A two-file table over keys 1..6 with disjoint per-file key ranges
    * (so key pruning touches one file); returns the low file's keys. */
  private def twoFiles(root: String): Seq[Long] = {
    ManifestTable.write((1L to 6L).map(k => (k, s"v$k")).toDF("k", "s")
      .repartitionByRange(2, col("k")), root)
    val files = ManifestTable.current(spark, root).get.files
    assert(files.size == 2)
    val low = files.minBy(_.stats("k").min.toLong).stats("k")
    low.min.toLong to low.max.toLong
  }

  test("empty DML results leave no generation dir and a clean fsck") {
    val root = tmp() + "/t"
    val low = twoFiles(root)
    def clean(): Unit = assert(ManifestTable.fsck(spark, root).collect().isEmpty)

    // MatchDelete of every row of the touched file, nothing inserted:
    // the rewrite-plus-insert result is empty — removes only
    val g0 = gens(root)
    val v0 = ManifestTable.currentVersion(spark, root).get
    val v1 = ManifestTable.merge(spark, root, low.map(k => (k, "x")).toDF("k", "s"),
      Seq("k"), ManifestTable.MatchDelete, insertUnmatched = false)
    assert(v1 == v0 + 1 && gens(root) == g0)
    assert(ManifestTable.current(spark, root).get.files.size == 1)
    val high = (1L to 6L).filterNot(low.contains).map(k => (k, s"v$k"))
    assert(rows(root) == high)
    clean()

    // no-op merge: no key can match and nothing inserts — current version
    val v2 = ManifestTable.merge(spark, root, Seq((100L, "z")).toDF("k", "s"),
      Seq("k"), insertUnmatched = false)
    assert(v2 == v1 && gens(root) == g0)
    // an empty source with inserts on writes nothing either
    val v3 = ManifestTable.merge(spark, root, Seq.empty[(Long, String)].toDF("k", "s"),
      Seq("k"))
    assert(v3 == v1 && gens(root) == g0)
    clean()

    // copy-on-write delete emptying its touched files: removes only
    ManifestTable.append(spark, Seq((20L, "a"), (21L, "b")).toDF("k", "s"), root)
    val g1 = gens(root)
    val before = ManifestTable.current(spark, root).get
    val v4 = ManifestTable.delete(spark, root, col("k") >= 20L)
    val after = ManifestTable.current(spark, root).get
    assert(v4 == before.version + 1 && gens(root) == g1)
    assert(after.files.map(_.relPath).toSet ==
      before.files.filter(_.stats("k").max.toLong < 20L).map(_.relPath).toSet)
    assert(rows(root) == high)
    clean()
  }

  test("merge drops the zero-row file an emptied write task leaves") {
    val root = tmp() + "/t"
    val low = twoFiles(root)
    val g0 = gens(root)
    // the touched file's rows are all deleted (the first write task gets
    // none and still writes a file) while a new key inserts
    val src = (low :+ 100L).map(k => (k, "x")).toDF("k", "s")
    ManifestTable.merge(spark, root, src, Seq("k"), ManifestTable.MatchDelete)
    val st = ManifestTable.current(spark, root).get
    assert(st.files.forall(_.rows != 0), st.files.map(f => f.relPath -> f.rows))
    val fresh = gens(root) -- g0
    assert(fresh.size == 1)
    val onDisk = {
      val s = Files.walk(Paths.get(root, fresh.head))
      try s.toArray.map(_.toString).filter(_.endsWith(".parquet"))
        .map(_.stripPrefix(root + "/")).toSet
      finally s.close()
    }
    assert(onDisk == st.files.map(_.relPath).filter(_.startsWith(fresh.head)).toSet)
    assert(rows(root) == (1L to 6L).filterNot(low.contains).map(k => (k, s"v$k")) :+
      ((100L, "x")))
    assert(ManifestTable.fsck(spark, root).collect().isEmpty)
  }

  /** Live rows per partition value, skewed over three days, with a
    * column of incompressible doubles so each day spans megabytes. */
  private def skewed(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"),
      when(col("id") % 10 < 6, "a").when(col("id") % 10 < 9, "b").otherwise("c").as("day"),
      rand(7).as("x"), rand(11).as("y"))

  /** Output file count per partition dir of the newest generation. */
  private def filesPerDay(root: String): Map[String, Int] =
    ManifestTable.current(spark, root).get.files.groupBy(_.partitionPath)
      .map { case (p, fs) => p -> fs.size }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally s.close()
  }

  test("compaction sized from manifest counts matches the scan-sized layout, DVs included") {
    val base = tmp()
    val known = base + "/known"
    ManifestTable.write(skewed(300000).repartition(6), known, partitionCols = Seq("day"))
    // a byte-identical copy whose manifest lacks every row count (the
    // legacy two-field file= lines): compaction falls back to the scan
    val unknown = base + "/unknown"
    copyTree(known, unknown)
    val mp = Paths.get(unknown, "_manifests", f"${1L}%020d.txt")
    val stripped = new String(Files.readAllBytes(mp), "UTF-8").split('\n').map { l =>
      if (l.startsWith("file=")) l.split('\t').take(2).mkString("\t") else l
    }.mkString("\n")
    Files.write(mp, stripped.getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(unknown, "_manifests", f".${1L}%020d.txt.crc"))
    Seq(known, unknown).foreach(r =>
      ManifestTable.deleteMoR(spark, r, col("k") % 7 === 0))
    assert(ManifestTable.current(spark, known).get.files.forall(f =>
      f.rows > 0 && f.dv.nonEmpty))
    assert(ManifestTable.current(spark, unknown).get.files.forall(_.rows < 0))
    assert(ManifestTable.rowCount(spark, unknown).isEmpty)
    Seq(known, unknown).foreach(r => ManifestTable.compact(spark, r, targetFileMB = 1))
    val (k, u) = (filesPerDay(known), filesPerDay(unknown))
    assert(k == u, s"manifest-sized $k vs scan-sized $u")
    assert(k("day=a") > k("day=c"), s"sizing should follow the skew: $k")
    def live(r: String) = ManifestTable.read(spark, r).groupBy("day").count()
      .as[(String, Long)].collect().toMap
    val want = skewed(300000).filter(col("k") % 7 =!= 0).groupBy("day").count()
      .as[(String, Long)].collect().toMap
    assert(live(known) == want && live(unknown) == want)
    assert(ManifestTable.rowCount(spark, known).contains(want.values.sum))
  }

  test("a local batch is detached with its size statistics; file scans and streams never") {
    val local = Seq((1L, "a"), (2L, "b")).toDF("k", "s").filter(col("k") > 0)
    val detached = SessionIsolation.detachLocal(local)
    assert(detached.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LogicalRDD]), detached.queryExecution.analyzed)
    assert(detached.queryExecution.optimizedPlan.stats.sizeInBytes ==
      local.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(detached.schema == local.schema)
    assert(detached.as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))

    val dir = tmp() + "/p"
    local.write.parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(SessionIsolation.detachLocal(scan) eq scan)
    val mixed = scan.unionByName(local)
    assert(SessionIsolation.detachLocal(mixed) eq mixed)
    val stream = spark.readStream.format("rate").load()
    assert(SessionIsolation.detachLocal(stream) eq stream)
  }
}
