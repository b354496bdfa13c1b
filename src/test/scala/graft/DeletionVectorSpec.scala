package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.{Fetch, Mutations, Publish, StatsIndex, Versions}

/** Deletion vectors: DELETE as O(deleted rows) instead of O(affected
  * files) — a `delete_dv` commit records (file, row_index) pairs in a
  * `_graft_dv/` sidecar, the live file set does not change, and every
  * read surface (fetch, fetchIndexed, time travel, mutations, CDC diff,
  * the `graft` format) anti-joins covered files against the live DVs.
  * Compaction materializes deletes; RESTORE carries them; vacuum
  * reference-counts the sidecars.
  */
class DeletionVectorSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  // interrupt a hung body (an Observation.get that never completes)
  private implicit val signaler: Signaler = ThreadSignaler

  private def physicalFiles(root: String): Set[String] =
    Publish.listPhysicalDataFilesWithSize(spark, root).map(_._1).toSet

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("dv delete removes rows without touching a single data file") {
    val root = TestSpark.tmpDir("dv_basic")
    Publish.publishVersioned(spark,
      (0 until 100).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("id", "grp", "v"),
      root, Seq("grp"))
    val before = physicalFiles(root)
    val r = Mutations.deleteWhereDv(spark, root, col("id") % 10 === 3)
    assert(r.version == 2 && r.addedFiles.isEmpty && r.removedFiles.isEmpty)
    // zero data movement: identical physical file set
    assert(physicalFiles(root) == before)
    val entry = Versions.readEntry(spark, root, 2)
    assert(entry.action == "delete_dv" && entry.added.isEmpty
      && entry.removed.isEmpty && entry.dvs.size == 1)
    assert(entry.dvs.head.dir.startsWith("_graft_dv/"))
    // fetch, snapshot and time travel all see the right rows
    val expect = (0L until 100L).filterNot(_ % 10 == 3)
    assert(ids(Fetch.fetch(spark, root)) == expect)
    assert(ids(Versions.fetchVersion(spark, root, 2)) == expect)
    assert(ids(Versions.fetchVersion(spark, root, 1)) == (0L until 100L))
    // partition filters compose with the DV probe
    assert(ids(Fetch.fetch(spark, root,
      Seq(graft.core.ColFilter("grp", "==", Seq("g3"))))) ==
      expect.filter(_ % 4 == 3))
  }

  test("dv deletes stack, and appends after a dv carry it forward") {
    val root = TestSpark.tmpDir("dv_stack")
    Publish.publishVersioned(spark,
      (0 until 60).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
    Mutations.deleteWhereDv(spark, root, col("id") < 10)
    Mutations.deleteWhereDv(spark, root, col("id") >= 50)
    assert(ids(Fetch.fetch(spark, root)) == (10L until 50L))
    Publish.publishVersioned(spark,
      (100 until 110).map(i => (i.toLong, -1.0)).toDF("id", "v"),
      root, Nil, mode = "append")
    assert(ids(Fetch.fetch(spark, root)) == ((10L until 50L) ++ (100L until 110L)))
    // a second dv delete hitting the appended file works too
    Mutations.deleteWhereDv(spark, root, col("id") === 105)
    assert(ids(Fetch.fetch(spark, root)) ==
      ((10L until 50L) ++ (100L until 110L).filterNot(_ == 105)))
  }

  test("a dv-deleted row cannot be located, resurrected or re-matched by mutations") {
    val root = TestSpark.tmpDir("dv_mutations")
    Publish.publishVersioned(spark,
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
    Mutations.deleteWhereDv(spark, root, col("id") < 5)
    // UPDATE touching a file with dv'd rows must not resurrect them
    Mutations.updateWhere(spark, root, col("id") === 10, Map("v" -> lit(-99.0)))
    assert(ids(Fetch.fetch(spark, root)) == (5L until 40L))
    assert(Fetch.fetch(spark, root).where(col("v") === -99.0).count() == 1)
    // rewrite-DELETE composes with an existing dv
    Mutations.deleteWhere(spark, root, col("id") >= 35)
    assert(ids(Fetch.fetch(spark, root)) == (5L until 35L))
    // MERGE re-inserting a dv-deleted key is an INSERT (standard upsert)
    Mutations.merge(spark, root, Seq((3L, 3.5)).toDF("id", "v"), Seq("id"))
    assert(ids(Fetch.fetch(spark, root)) == (3L +: (5L until 35L)))
  }

  test("compaction materializes deletes; vacuum then reclaims the dv sidecar") {
    val root = TestSpark.tmpDir("dv_compact")
    Publish.publishVersioned(spark,
      (0 until 80).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
    Mutations.deleteWhereDv(spark, root, col("id") % 2 === 0)
    val dvBase = new java.io.File(root, "_graft_dv")
    assert(dvBase.exists && dvBase.list().nonEmpty)
    // the dv is REFERENCED: a zero-grace vacuum keeping the dv version
    // must not reclaim it
    Versions.vacuum(spark, root, keepFrom = 2, graceMs = 0)
    assert(dvBase.list().nonEmpty)
    assert(ids(Fetch.fetch(spark, root)) == (0L until 80L).filter(_ % 2 == 1))
    // OPTIMIZE rewrites the survivors; the new snapshot carries no DVs
    Versions.compact(spark, root)
    assert(Versions.snapshotFullAt(spark, root,
      Versions.latestVersion(spark, root).get)._3.isEmpty)
    assert(ids(Fetch.fetch(spark, root)) == (0L until 80L).filter(_ % 2 == 1))
    // now unreferenced (only the compacted version kept): vacuum reclaims
    // the dv dir along with the replaced data files
    val dead = Versions.vacuum(spark, root,
      keepFrom = Versions.latestVersion(spark, root).get, graceMs = 0)
    assert(dead.exists(_.contains("_graft_dv/")))
    assert(!dvBase.exists || dvBase.list().isEmpty)
    assert(ids(Fetch.fetch(spark, root)) == (0L until 80L).filter(_ % 2 == 1))
  }

  test("RESTORE carries deletion vectors both directions") {
    val root = TestSpark.tmpDir("dv_restore")
    Publish.publishVersioned(spark,
      (0 until 30).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
    Mutations.deleteWhereDv(spark, root, col("id") < 10)           // v2
    Publish.publishVersioned(spark,
      (100 until 105).map(i => (i.toLong, -1.0)).toDF("id", "v"),
      root, Nil, mode = "append")                                  // v3
    // back to the dv version: deletes must hold
    Versions.restore(spark, root, 2)                               // v4
    assert(ids(Fetch.fetch(spark, root)) == (10L until 30L))
    // back to the pre-dv version: rows return
    Versions.restore(spark, root, 1)                               // v5
    assert(ids(Fetch.fetch(spark, root)) == (0L until 30L))
  }

  test("metadata-only COUNT subtracts DV cardinality; MIN/MAX refuses") {
    val root = TestSpark.tmpDir("dv_stats")
    Publish.publishVersioned(spark,
      (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      root, Nil, statsCols = Seq("id", "v"))
    assert(StatsIndex.statsCount(spark, root).contains(50L))
    assert(StatsIndex.statsMinMax(spark, root, "id").contains((0L, 49L)))
    Mutations.deleteWhereDv(spark, root, col("id") === 49)
    // COUNT(*) stays metadata-only: every live DV row names a live row of
    // a live file exactly once, so the sidecar total minus the DV
    // cardinality is exact. MIN/MAX can't correct (the deleted row may BE
    // the extreme — here it is) — it refuses.
    assert(StatsIndex.statsCount(spark, root).contains(49L))
    assert(StatsIndex.statsMinMax(spark, root, "id").isEmpty)
    // the scan path (incl. index-pruned) returns the truth
    assert(Fetch.fetch(spark, root).count() == 49)
    assert(ids(Fetch.fetchIndexed(spark, root,
      dataFilters = Seq(graft.core.ColFilter("id", ">=", Seq(48L))))) == Seq(48L))
    // compaction re-materializes; metadata-only answers come back
    Versions.compact(spark, root)
    assert(StatsIndex.statsCount(spark, root).contains(49L))
    assert(StatsIndex.statsMinMax(spark, root, "id").contains((0L, 48L)))
  }

  test("dv update: only updated copies written, equals rewrite-update") {
    def build(tag: String): String = {
      val root = TestSpark.tmpDir(s"dv_upd_$tag")
      Publish.publishVersioned(spark,
        (0 until 90).map(i => (i.toLong, s"g${i % 3}", i * 1.0)).toDF("id", "grp", "v"),
        root, Seq("grp"))
      root
    }
    val (a, b) = (build("rw"), build("dv"))
    val pred = col("id") % 9 === 2
    val asg = Map("v" -> (col("v") * 100))
    Mutations.updateWhere(spark, a, pred, asg)
    val before = physicalFiles(b)
    val r = Mutations.updateWhereDv(spark, b, pred, asg)
    // every pre-existing file untouched; only the updated copies are new
    assert(before.subsetOf(physicalFiles(b)))
    assert(r.addedFiles.nonEmpty && r.removedFiles.isEmpty)
    val entry = Versions.readEntry(spark, b, r.version)
    assert(entry.action == "update_dv" && entry.added.nonEmpty
      && entry.removed.isEmpty && entry.dvs.size == 1)
    // identical results on both strategies; v1 time travel intact
    val cols = Seq("id", "grp", "v").map(col)
    assert(Fetch.fetch(spark, a).select(cols: _*).orderBy("id").collect().toSeq ==
      Fetch.fetch(spark, b).select(cols: _*).orderBy("id").collect().toSeq)
    assert(ids(Versions.fetchVersion(spark, b, 1)) == (0L until 90L))
    // no-match update commits nothing
    val r2 = Mutations.updateWhereDv(spark, b, col("id") > 1000, asg)
    assert(r2.version == r.version && r2.addedFiles.isEmpty)
  }

  test("dv merge: matched keys replaced via DV, inserts appended, equals rewrite merge") {
    def build(tag: String): String = {
      val root = TestSpark.tmpDir(s"dv_mrg_$tag")
      Publish.publishVersioned(spark,
        (0 until 60).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
      root
    }
    val (a, b) = (build("rw"), build("dv"))
    val source = ((0 until 60 by 6).map(i => (i.toLong, -5.0)) ++
      Seq((200L, 1.0), (201L, 2.0))).toDF("id", "v")
    Mutations.merge(spark, a, source, Seq("id"))
    val before = physicalFiles(b)
    val r = Mutations.mergeDv(spark, b, source, Seq("id"))
    assert(before.subsetOf(physicalFiles(b)))
    val entry = Versions.readEntry(spark, b, r.version)
    assert(entry.action == "update_dv" && entry.added.nonEmpty && entry.dvs.size == 1)
    assert(Fetch.fetch(spark, a).orderBy("id").collect().toSeq ==
      Fetch.fetch(spark, b).orderBy("id").collect().toSeq)
    // insert-only merge: no matches -> an update_dv commit with no DV
    val r2 = Mutations.mergeDv(spark, b, Seq((300L, 3.0)).toDF("id", "v"), Seq("id"))
    val e2 = Versions.readEntry(spark, b, r2.version)
    assert(e2.action == "update_dv" && e2.added.nonEmpty && e2.dvs.isEmpty)
    assert(Fetch.fetch(spark, b).where(col("id") === 300).count() == 1)
  }

  test("an empty part file gets an n_rows=0 stats row; the completeness marker holds") {
    // regression: a write whose task loses every row (a dv-update of one
    // row, a rewrite emptying a split) leaves a zero-row parquet file;
    // statsFor derived rows by READING, so empty files had no sidecar row
    // and marker coverage was unprovable forever — every metadata-only
    // answer silently degraded to the scan path
    val root = TestSpark.tmpDir("dv_empty_stats")
    Publish.publishVersioned(spark,
      (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      root, Nil, statsCols = Seq("id"))
    Mutations.updateWhereDv(spark, root, col("id") === 20, Map("v" -> lit(-1.0)))
    assert(StatsIndex.manifestColumns(spark, root).contains(Seq("id")))
    // every physical file carries a stats row, empty ones included
    val listed = physicalFiles(root)
    val statted = StatsIndex.read(spark, root).get
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(listed.subsetOf(statted))
    // and once DVs are materialized away, metadata-only answers return
    Versions.compact(spark, root)
    assert(StatsIndex.statsCount(spark, root).contains(50L))
  }

  test("dv update composes with stacked dv deletes, compaction and metadata refusal") {
    val root = TestSpark.tmpDir("dv_upd_compose")
    Publish.publishVersioned(spark,
      (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      root, Nil, statsCols = Seq("id"))
    Mutations.deleteWhereDv(spark, root, col("id") < 5)
    Mutations.updateWhereDv(spark, root, col("id") === 20, Map("v" -> lit(-1.0)))
    // dv-deleted rows are not matchable by the dv update (no resurrect)
    Mutations.updateWhereDv(spark, root, col("id") === 2, Map("v" -> lit(-2.0)))
    assert(ids(Fetch.fetch(spark, root)) == (5L until 50L))
    assert(Fetch.fetch(spark, root).where(col("v") === -1.0).count() == 1)
    assert(Fetch.fetch(spark, root).where(col("v") === -2.0).count() == 0)
    // metadata-only count subtracts the live DV cardinality exactly
    // (5 dv-deleted rows + the dv-updated original's tombstone = 50-5,
    // with the updated COPY appended back: 45 live rows)
    assert(StatsIndex.statsCount(spark, root).contains(45L))
    Versions.compact(spark, root)
    assert(Versions.snapshotFullAt(spark, root,
      Versions.latestVersion(spark, root).get)._3.isEmpty)
    assert(StatsIndex.statsCount(spark, root).contains(45L))
  }

  test("SQL UPDATE/MERGE route through DVs under spark.graft.{update,merge}.mode=dv") {
    import graft.plans.GraftSql
    val root = TestSpark.tmpDir("dv_sql_upd")
    Publish.publishVersioned(spark,
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
    spark.conf.set("spark.graft.update.mode", "dv")
    spark.conf.set("spark.graft.merge.mode", "dv")
    try {
      GraftSql.exec(spark, s"UPDATE graft.`$root` SET v = v + 1000 WHERE id < 3")
      assert(Versions.readEntry(spark, root, 2).action == "update_dv")
      Seq((0L, 0.5), (99L, 9.9)).toDF("id", "v").createOrReplaceTempView("dv_sql_src")
      GraftSql.exec(spark, s"MERGE INTO graft.`$root` t USING dv_sql_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(Versions.readEntry(spark, root, 3).action == "update_dv")
      val got = Fetch.fetch(spark, root).orderBy("id")
        .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.take(3).toSeq == Seq((0L, 0.5), (1L, 1001.0), (2L, 1002.0)))
      assert(got.last == ((99L, 9.9)))
    } finally {
      spark.conf.unset("spark.graft.update.mode")
      spark.conf.unset("spark.graft.merge.mode")
    }
  }

  test("rowDiff surfaces dv-deleted rows as removals; no-op dv commits nothing") {
    val root = TestSpark.tmpDir("dv_diff")
    Publish.publishVersioned(spark,
      (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
    val r0 = Mutations.deleteWhereDv(spark, root, col("id") > 1000)
    assert(r0.version == 1) // nothing matched: no commit, no dv dir
    assert(!new java.io.File(root, "_graft_dv").exists
      || new java.io.File(root, "_graft_dv").list().isEmpty)
    Mutations.deleteWhereDv(spark, root, col("id") === 7)
    val diff = Versions.rowDiff(spark, root, 1, 2, Seq("id"))
    val removed = diff.where(col("change_type") === "removed")
    assert(removed.count() == 1 && ids(removed) == Seq(7L))
  }

  private def dvDirs(root: String): Seq[String] =
    Option(new java.io.File(root, "_graft_dv").list()).toSeq.flatten

  test("observed DV covered files equal the sidecar's file column (URI-escaped dirs)") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dv_escaped")
      Publish.publishVersioned(spark,
        (0 until 60).map(i => (i.toLong, if (i % 2 == 0) "a b" else "c%d", i * 1.0))
          .toDF("id", "d", "v"), root, Seq("d"))
      val del = Mutations.deleteWhereDv(spark, root, col("id") % 5 === 0)
      val upd = Mutations.updateWhereDv(spark, root, col("id") % 7 === 1,
        Map("v" -> lit(-1.0)))
      Seq(del.version, upd.version).foreach { v =>
        val dv = Versions.readEntry(spark, root, v).dvs.head
        val sidecar = spark.read.parquet(new java.io.File(root, dv.dir).toString)
          .select("file").distinct().as[String].collect().sorted.toSeq
        assert(dv.files == sidecar && dv.files.size == 2)
        // the on-disk names: hive escapes `%` as `%25`, which must not be
        // decoded a second time
        assert(dv.files.exists(_.startsWith("d=a b/")) &&
          dv.files.exists(_.startsWith("d=c%25d/")))
      }
      assert(ids(Fetch.fetch(spark, root)) == (0L until 60L).filterNot(_ % 5 == 0))
      assert(Fetch.fetch(spark, root).where(col("v") === -1.0).count() ==
        (0 until 60).count(i => i % 7 == 1 && i % 5 != 0))
    }
  }

  test("no-match dv mutations leave no sidecar dir, commit nothing and never hang") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dv_nomatch")
      Publish.publishVersioned(spark,
        (0 until 30).map(i => (i.toLong, s"g${i % 3}", i * 1.0)).toDF("id", "grp", "v"),
        root, Seq("grp"))
      val d = Mutations.deleteWhereDv(spark, root, col("id") > 1000)
      val u = Mutations.updateWhereDv(spark, root, col("id") < 0, Map("v" -> lit(0.0)))
      assert(d == graft.core.MutationResult(1, Nil, Nil) && u == d)
      assert(Versions.latestVersion(spark, root).contains(1) && dvDirs(root).isEmpty)
      // a merge whose source matches no key inserts without any DV
      val m = Mutations.mergeDv(spark, root,
        Seq((500L, "g0", 5.0)).toDF("id", "grp", "v"), Seq("id"))
      assert(m.version == 2 && m.addedFiles.nonEmpty)
      assert(Versions.readEntry(spark, root, 2).dvs.isEmpty && dvDirs(root).isEmpty)
      assert(ids(Fetch.fetch(spark, root)) == ((0L until 30L) :+ 500L))
      // a snapshot with no files left: nothing to scan, nothing observed
      Mutations.deleteWhere(spark, root, lit(true))
      val gone = Versions.latestVersion(spark, root).get
      assert(Mutations.deleteWhereDv(spark, root, col("id") > 0).version == gone)
      assert(Mutations.updateWhereDv(spark, root, col("id") > 0,
        Map("v" -> lit(1.0))).version == gone)
      assert(Mutations.mergeDv(spark, root,
        Seq.empty[(Long, String, Double)].toDF("id", "grp", "v"), Seq("id")).version == gone)
      assert(dvDirs(root).isEmpty)
      Mutations.mergeDv(spark, root, Seq((7L, "g1", 7.0)).toDF("id", "grp", "v"), Seq("id"))
      assert(ids(Fetch.fetch(spark, root)) == Seq(7L))
    }
  }

  test("mergeDv: an empty source is a no-op, a duplicate-key source is refused before any write") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dv_merge_guard")
      Publish.publishVersioned(spark,
        (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), root, Nil)
      val before = physicalFiles(root)
      val empty = Mutations.mergeDv(spark, root,
        Seq.empty[(Long, Double)].toDF("id", "v"), Seq("id"))
      assert(empty == graft.core.MutationResult(1, Nil, Nil))
      val e = intercept[IllegalArgumentException](Mutations.mergeDv(spark, root,
        Seq((1L, 1.0), (1L, 2.0), (3L, 3.0)).toDF("id", "v"), Seq("id")))
      assert(e.getMessage.contains("merge source is not unique on (id): e.g. [1,2]"))
      assert(physicalFiles(root) == before && dvDirs(root).isEmpty)
      assert(Versions.latestVersion(spark, root).contains(1))
    }
  }

  test("observed write sizing equals the sample on a mixed-type frame") {
    failAfter(120.seconds) {
      import java.sql.Date
      val df = (0 until 700).map { i =>
        (if (i % 9 == 0) null else "s" * (i % 23), Array.fill(i % 5)(i.toByte),
          Seq.fill(i % 4)(i.toLong), i, i.toLong * 7, Date.valueOf("2026-01-01"),
          s"p${i % 6}", i % 3)
      }.toDF("s", "b", "arr", "n", "l", "day", "p", "q")
      val parts = Seq("p", "q")
      val sample = Publish.sampleRowBytes(df, parts)
      val obs = Observation()
      val aggs = Publish.sizingMetrics(df.schema, parts)
      df.observe(obs, aggs.head, aggs.tail: _*).collect()
      val observed = Publish.observedSizing(obs.get).get
      assert(observed == sample && sample.rows == 700 && sample.partitionTuples == 6)
      assert(Publish.recordsPerFile(observed) == Publish.recordsPerFile(sample))
      Seq(1, 4, 6, 7, 32).foreach { par =>
        assert(Publish.saltRouting(par, observed) == Publish.saltRouting(par, sample))
      }
    }
  }
}
