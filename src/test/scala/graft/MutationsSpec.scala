package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Fetch, Mutations, Publish, Versions}

/** Row-level mutations (DELETE / UPDATE / MERGE) on versioned datasets:
  * SQL semantics, copy-on-write file pruning (untouched files are never
  * rewritten), time-travel isolation, and the input guards.
  */
class MutationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 4 partitions × 20 ids, one file per partition (small writes). */
  private def freshTarget(): String = {
    val root = TestSpark.tmpDir("mutations")
    Publish.publishVersioned(spark,
      (0 until 80).map(i => (i.toLong, s"g${i % 4}", i * 10.0)).toDF("id", "grp", "v"),
      root, Seq("grp"))
    root
  }

  test("merge, mergeDv and applyChanges accept a key column named count") {
    def target(): String = {
      val root = TestSpark.tmpDir("count_key")
      Publish.publishVersioned(spark,
        (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("count", "v"), root, Nil)
      root
    }
    val src = Seq((3L, -3.0), (42L, 42.0)).toDF("count", "v")
    val expect = (0L until 10L).map(k => k -> (if (k == 3) -3.0 else k.toDouble)) :+ (42L -> 42.0)
    def rows(root: String): Seq[(Long, Double)] =
      Fetch.fetch(spark, root).as[(Long, Double)].collect().sorted.toSeq
    val (a, b, c) = (target(), target(), target())
    Mutations.merge(spark, a, src, Seq("count"))
    Mutations.mergeDv(spark, b, src, Seq("count"))
    Mutations.applyChanges(spark, c, src.withColumn("_op", lit("upsert")), Seq("count"))
    Seq(a, b, c).foreach(r => assert(rows(r) == expect))
    // the duplicate-key guard still fires on such a key
    val e = intercept[IllegalArgumentException](Mutations.mergeDv(spark, b,
      Seq((1L, 1.0), (1L, 2.0)).toDF("count", "v"), Seq("count")))
    assert(e.getMessage.contains("not unique on (count)"))
  }

  test("deleteWhere removes TRUE rows, keeps FALSE and NULL, prunes untouched files") {
    val root = freshTarget()
    val before = Versions.snapshotAt(spark, root, 1)._1
    // predicate selective to ONE partition: only g1's file may be rewritten
    val r = Mutations.deleteWhere(spark, root,
      col("grp") === "g1" && col("id") < 40)
    assert(r.version == 2)
    assert(r.removedFiles.forall(_.contains("grp=g1")),
      s"only g1 files should be rewritten, got ${r.removedFiles}")
    assert(r.removedFiles.size < before.size)
    val ids = Fetch.fetch(spark, root).select("id").as[Long].collect().sorted
    val expect = (0L until 80L).filterNot(i => i % 4 == 1 && i < 40)
    assert(ids.toSeq == expect)
    // time travel: v1 still has every row
    assert(Versions.fetchVersion(spark, root, 1).count() == 80)
  }

  test("deleteWhere with a NULL-valued predicate keeps the NULL rows") {
    val root = TestSpark.tmpDir("mutations_null")
    Publish.publishVersioned(spark,
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
        .toDF("id", "v"), root, Nil)
    Mutations.deleteWhere(spark, root, col("v") > 2.0) // NULL for id=2
    assert(Fetch.fetch(spark, root).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("deleteWhere matching nothing is a no-op commit-wise") {
    val root = freshTarget()
    val r = Mutations.deleteWhere(spark, root, col("id") > 1000)
    assert(r == core.MutationResult(1, Nil, Nil))
    assert(Versions.latestVersion(spark, root).contains(1))
  }

  test("updateWhere applies assignments to matched rows only") {
    val root = freshTarget()
    val r = Mutations.updateWhere(spark, root, col("id") % 10 === 0,
      Map("v" -> (col("v") + 0.5)))
    assert(r.version == 2)
    val got = Fetch.fetch(spark, root).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got.size == 80)
    (0 until 80).foreach { i =>
      val expect = if (i % 10 == 0) i * 10.0 + 0.5 else i * 10.0
      assert(got(i.toLong) == expect, s"id=$i")
    }
  }

  test("updateWhere rejects partition-column and unknown assignments") {
    val root = freshTarget()
    val e1 = intercept[IllegalArgumentException] {
      Mutations.updateWhere(spark, root, lit(true), Map("grp" -> lit("x")))
    }
    assert(e1.getMessage.contains("partition columns"))
    val e2 = intercept[IllegalArgumentException] {
      Mutations.updateWhere(spark, root, lit(true), Map("nope" -> lit(1)))
    }
    assert(e2.getMessage.contains("unknown columns"))
  }

  test("merge upserts: matched rows replaced, new keys inserted, rest untouched") {
    val root = freshTarget()
    val source = Seq(
      (5L, "g1", -5.0),    // update (5 % 4 == 1)
      (200L, "g0", -200.0) // insert
    ).toDF("id", "grp", "v")
    val r = Mutations.merge(spark, root, source, Seq("id"))
    assert(r.version == 2)
    // only the file holding id=5 (grp=g1) was rewritten
    assert(r.removedFiles.nonEmpty && r.removedFiles.forall(_.contains("grp=g1")),
      s"got ${r.removedFiles}")
    val got = Fetch.fetch(spark, root).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got.size == 81)
    assert(got(5L) == -5.0 && got(200L) == -200.0 && got(6L) == 60.0)
  }

  test("merge into an insert-only situation appends without removing files") {
    val root = freshTarget()
    val r = Mutations.merge(spark, root,
      Seq((300L, "g3", 1.0)).toDF("id", "grp", "v"), Seq("id"))
    assert(r.removedFiles.isEmpty && r.addedFiles.nonEmpty)
    assert(Fetch.fetch(spark, root).count() == 81)
  }

  test("merge rejects duplicate source keys and schema drift") {
    val root = freshTarget()
    val dup = Seq((1L, "g1", 0.0), (1L, "g1", 1.0)).toDF("id", "grp", "v")
    val e1 = intercept[IllegalArgumentException] {
      Mutations.merge(spark, root, dup, Seq("id"))
    }
    assert(e1.getMessage.contains("not unique"))
    val e2 = intercept[IllegalArgumentException] {
      Mutations.merge(spark, root, Seq((1L, "g1")).toDF("id", "grp"), Seq("id"))
    }
    assert(e2.getMessage.contains("missing dataset columns: v"))
  }

  test("mutations require a versioned dataset") {
    val root = TestSpark.tmpDir("mutations_unversioned")
    Publish.publish(spark, Seq((1L, "a")).toDF("id", "grp"), root, Seq("grp"))
    val e = intercept[IllegalArgumentException] {
      Mutations.deleteWhere(spark, root, lit(true))
    }
    assert(e.getMessage.contains("no version log"))
  }

  test("CDC and history see the rewrite; vacuum reclaims replaced files") {
    val root = freshTarget()
    Mutations.deleteWhere(spark, root, col("grp") === "g2")
    val h = Versions.history(spark, root).orderBy("version")
      .select("action", "n_removed_files").collect()
    assert(h.map(_.getString(0)).toSeq == Seq("overwrite", "rewrite"))
    assert(h(1).getLong(1) > 0)
    // rowDiff across the rewrite: exactly the g2 ids removed, none changed
    val diff = Versions.rowDiff(spark, root, 1, 2, Seq("id"))
      .select("id", "change_type").as[(Long, String)].collect()
    assert(diff.forall(_._2 == "removed") && diff.length == 20)
    // vacuum to the rewrite version: v1 must fail loudly afterwards
    val dead = Versions.vacuum(spark, root, keepFrom = 2, graceMs = 0)
    assert(dead.nonEmpty)
    val e = intercept[IllegalArgumentException] {
      Versions.fetchVersion(spark, root, 1)
    }
    assert(e.getMessage.contains("vacuumed"))
    assert(Fetch.fetch(spark, root).count() == 60)
  }

  test("applyChanges: one atomic version applying upserts and delete tombstones") {
    val root = freshTarget()
    val changes = Seq(
      (5L, "g1", -5.0, "upsert"),   // update
      (200L, "g0", 1.0, "upsert"),  // insert
      (8L, "g0", 0.0, "delete"),    // tombstone (payload ignored)
      (999L, "g3", 0.0, "delete")   // tombstone for an absent key: no-op
    ).toDF("id", "grp", "v", "_op")
    val r = Mutations.applyChanges(spark, root, changes, Seq("id"))
    assert(r.version == 2)
    val got = Fetch.fetch(spark, root).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got.size == 80) // 80 - 1 deleted + 1 inserted
    assert(got(5L) == -5.0 && got(200L) == 1.0 && !got.contains(8L))
    // v1 untouched
    assert(Versions.fetchVersion(spark, root, 1).count() == 80)
  }

  test("applyChanges rejects a key that is both upserted and deleted, and unknown ops") {
    val root = freshTarget()
    val both = Seq((1L, "g1", 0.0, "upsert"), (1L, "g1", 0.0, "delete"))
      .toDF("id", "grp", "v", "_op")
    val e1 = intercept[IllegalArgumentException] {
      Mutations.applyChanges(spark, root, both, Seq("id"))
    }
    assert(e1.getMessage.contains("not unique"))
    val bad = Seq((1L, "g1", 0.0, "replace")).toDF("id", "grp", "v", "_op")
    val e2 = intercept[IllegalArgumentException] {
      Mutations.applyChanges(spark, root, bad, Seq("id"))
    }
    assert(e2.getMessage.contains("unknown"))
    // a NULL op must not silently no-op
    val nul = Seq((1L, "g1", 0.0, Option.empty[String])).toDF("id", "grp", "v", "_op")
    val e3 = intercept[IllegalArgumentException] {
      Mutations.applyChanges(spark, root, nul, Seq("id"))
    }
    assert(e3.getMessage.contains("unknown"))
  }

  test("mutations match files under hive dirs needing URI encoding (d=a b)") {
    // `_metadata.file_path` surfaces percent-ENCODED while commit entries
    // store decoded paths — if the locate pass compares them raw, a
    // mutation under a partition value with an encodable character finds
    // affected files whose names match NO commit entry, so the removal
    // never replays and deleted rows stay visible.
    val root = TestSpark.tmpDir("mutations_encoded")
    Publish.publishVersioned(spark,
      (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "a b" else "c%d", i * 1.0))
        .toDF("id", "grp", "v"),
      root, Seq("grp"))
    val before = Versions.snapshotAt(spark, root, 1)._1
    val r = Mutations.deleteWhere(spark, root, col("grp") === "a b" && col("id") < 20)
    assert(r.version == 2)
    assert(r.removedFiles.nonEmpty, "the a b partition's file must be located")
    assert(r.removedFiles.forall(f => f.contains("grp=a b") || f.contains("grp=a%20b")),
      s"only the a b partition may be rewritten, got ${r.removedFiles}")
    // removal replayed: the rewritten files are gone from the snapshot
    val after = Versions.snapshotAt(spark, root, 2)._1
    assert(r.removedFiles.forall(f => before.contains(f) && !after.contains(f)),
      s"removed files must match commit entries; before=$before after=$after removed=${r.removedFiles}")
    val ids = Fetch.fetch(spark, root).select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 40L).filterNot(i => i % 2 == 0 && i < 20).toSeq)
    // update under the other encodable value ("c%d" carries a literal %)
    Mutations.updateWhere(spark, root, col("grp") === "c%d" && col("id") === 1L,
      Map("v" -> lit(-1.0)))
    val got = Fetch.fetch(spark, root).where(col("id") === 1L)
      .select("v").as[Double].head()
    assert(got == -1.0)
  }
}
