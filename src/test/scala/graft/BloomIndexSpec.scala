package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomIndex, ColFilter, DatasetMeta, Fetch, Mutations, Publish, StatsIndex}

/** Per-file Bloom skipping: must (1) never change results, (2) prune files
  * on equality probes where min/max ranges cannot (randomly-laid-out
  * high-cardinality column — every file's range spans the domain), (3) stay
  * conservative for files it has never seen, (4) maintain itself O(batch)
  * through publish appends.
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val root = "/tmp/graft_test/bloom_lineitem"

  // l_okstr: a synthetic high-cardinality STRING key (the testdata tables
  // carry none) to pin string-probe hash fidelity
  private lazy val src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    .withColumn("l_okstr", concat(lit("k"), col("l_orderkey"), lit("-"), col("l_linenumber")))

  /** Random 16-file layout + stats on l_orderkey: every file's orderkey
    * range spans ~the whole domain, so RANGE skipping is useless here by
    * construction — exactly the workload the bloom index exists for.
    */
  private def published: String = {
    if (!new java.io.File(s"$root/${DatasetMeta.FileName}").exists()) {
      Publish.publish(spark, src.repartition(16), root, Nil,
        statsCols = Seq("l_orderkey"))
      BloomIndex.build(spark, root, Seq("l_orderkey", "l_okstr"),
        expectedItemsPerFile = 8192)
    }
    root
  }

  private def meta(r: String) = DatasetMeta.read(spark, r).get

  test("equality probe prunes files ranges cannot, result stays exact") {
    val r = published
    val all = Fetch.allFiles(spark, r)
    assert(all.size >= 8, s"layout should have many files, got ${all.size}")
    val key = src.select(min("l_orderkey")).head.getLong(0) + 7
    // ranges alone: nearly nothing prunable on a shuffled layout — compute
    // the verdict the index would reach without its bloom rows
    val dir = new java.io.File(s"$r/${BloomIndex.DirName}")
    val saved = new java.io.File(s"$r/_graft_bloom_saved")
    assert(dir.renameTo(saved))
    val rangeOnly = try StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(key)))) finally saved.renameTo(dir)
    assert(rangeOnly.size > all.size / 2,
      s"shuffled layout should defeat range skipping: ${rangeOnly.size}/${all.size}")
    // with blooms: only the files that truly hold the key (+ rare fp) remain
    val withBloom = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(key))))
    val truth = src.where(col("l_orderkey") === key).count()
    assert(truth > 0, "probe key must exist in the data")
    assert(withBloom.size <= math.max(4, all.size / 3),
      s"bloom probe should keep only holder files: ${withBloom.size}/${all.size}")
    val got = Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_orderkey", "==", Seq(key)))).count()
    assert(got == truth)
  }

  test("absent key prunes everything; fetchIndexed returns zero rows") {
    val r = published
    val files = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(-1L))))
    assert(files.isEmpty, s"absent key should prune all files, kept ${files.size}")
    assert(Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_orderkey", "==", Seq(-1L)))).count() == 0)
  }

  test("value-list probe: file pruned only when EVERY value misses") {
    val r = published
    val all = Fetch.allFiles(spark, r)
    val key = src.select(max("l_orderkey")).head.getLong(0) - 3
    assert(src.where(col("l_orderkey") === key).count() > 0)
    // one live value among dead ones keeps the holder files
    val mixed = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(-5L, key, -9L))))
    assert(mixed.nonEmpty && mixed.size < all.size)
    val got = Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_orderkey", "==", Seq(-5L, key, -9L))))
    val want = src.where(col("l_orderkey").isin(-5L, key, -9L))
    assert(got.count() == want.count())
    // all-dead list prunes everything
    assert(StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(-5L, -9L)))).isEmpty)
  }

  test("string column probes hash with type fidelity") {
    val r = published
    val all = Fetch.allFiles(spark, r)
    val c = src.select("l_okstr").head.getString(0)
    val files = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_okstr", "==", Seq(c))))
    assert(files.nonEmpty && files.size < all.size)
    val got = Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_okstr", "==", Seq(c)))).count()
    assert(got == src.where(col("l_okstr") === c).count())
    // a never-written key prunes all files
    assert(StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_okstr", "==", Seq("no such key ever written")))).isEmpty)
  }

  test("non-equality ops and uncovered columns never consult blooms") {
    val r = published
    val all = Fetch.allFiles(spark, r)
    // range op on a covered column: blooms can't serve it, ranges are wide
    // on this layout -> everything scans (conservative, correct)
    val ge = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", ">=", Seq(0L))))
    assert(ge.size == all.size)
    // equality on an uncovered column: no bloom rows for it, no pruning
    val eq = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_suppkey", "==", Seq(-1L))))
    assert(eq.size == all.size)
  }

  test("publish append maintains the index O(batch); fresh keys stay findable") {
    val r = "/tmp/graft_test/bloom_append"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    val base = src.where(col("l_orderkey") % 2 === 0)
    val extra = src.where(col("l_orderkey") % 2 === 1)
    Publish.publish(spark, base.repartition(4), r, Nil)
    BloomIndex.build(spark, r, Seq("l_orderkey"), expectedItemsPerFile = 8192)
    val preFiles = Fetch.allFiles(spark, r).toSet
    Publish.publish(spark, extra.repartition(4), r, Nil, mode = "append")
    val all = Fetch.allFiles(spark, r)
    assert(all.size > preFiles.size)
    // an odd key lives only in appended files — bloom must keep them
    val oddKey = extra.select(min("l_orderkey")).head.getLong(0)
    val kept = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(oddKey))))
    assert(kept.nonEmpty)
    val got = Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_orderkey", "==", Seq(oddKey)))).count()
    assert(got == src.where(col("l_orderkey") === oddKey).count())
    // and an absent key now prunes OLD and NEW files alike (maintenance ran)
    assert(StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(-1L)))).isEmpty)
  }

  test("files without bloom rows are never pruned (conservative default)") {
    val r = "/tmp/graft_test/bloom_partial"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    Publish.publish(spark, src.where(col("l_orderkey") % 2 === 0).repartition(4), r, Nil)
    BloomIndex.build(spark, r, Seq("l_orderkey"), expectedItemsPerFile = 8192)
    // sneak files in WITHOUT maintenance: raw parquet append (a foreign
    // writer), then probe a key that lives only in the foreign files
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .where(col("l_orderkey") % 2 === 1).repartition(2)
      .write.mode("append").parquet(r)
    val oddKey = src.where(col("l_orderkey") % 2 === 1)
      .select(min("l_orderkey")).head.getLong(0)
    val kept = StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(oddKey))))
    assert(kept.nonEmpty, "unindexed files must survive every bloom probe")
    val got = Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_orderkey", "==", Seq(oddKey)))).count()
    assert(got == src.where(col("l_orderkey") === oddKey).count())
  }

  test("append fragments compact past the threshold; pruning survives the swap") {
    val r = "/tmp/graft_test/bloom_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    val parts = (0 until 4).map(i => src.where(col("l_orderkey") % 4 === i))
    Publish.publish(spark, parts.head.repartition(2), r, Nil)
    BloomIndex.build(spark, r, Seq("l_orderkey"), expectedItemsPerFile = 8192)
    System.setProperty("graft.bloom.compactThreshold", "2")
    try parts.tail.foreach(p => Publish.publish(spark, p.repartition(2), r, Nil, mode = "append"))
    finally System.clearProperty("graft.bloom.compactThreshold")
    val sidecarParts = new java.io.File(s"$r/${BloomIndex.DirName}")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(sidecarParts <= 3, s"sidecar should have compacted, has $sidecarParts parts")
    // params survived the swap and every batch's keys remain findable
    assert(BloomIndex.params(spark, r).get.columns == Seq("l_orderkey"))
    val key = src.where(col("l_orderkey") % 4 === 3).select(min("l_orderkey")).head.getLong(0)
    assert(StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(key)))).nonEmpty)
    assert(StatsIndex.candidateFiles(spark, r, meta(r),
      Seq(ColFilter("l_orderkey", "==", Seq(-1L)))).isEmpty)
    val got = Fetch.fetchIndexed(spark, r,
      dataFilters = Seq(ColFilter("l_orderkey", "==", Seq(key)))).count()
    assert(got == src.where(col("l_orderkey") === key).count())
  }

  test("params round-trip and rebuild overwrite") {
    val r = published
    val p = BloomIndex.params(spark, r).get
    assert(p.columns == Seq("l_orderkey", "l_okstr"))
    assert(p.fpp == 0.01 && p.expectedItemsPerFile == 8192)
    assert(BloomIndex.params(spark, "/tmp/graft_test/no_such_ds").isEmpty)
  }

  test("a widening merge refused for duplicate source keys keeps the bloom index") {
    val spark = this.spark
    import spark.implicits._
    val root = TestSpark.tmpDir("bloom_widen_refused")
    Publish.publishVersioned(spark, (0 until 40).map(i => (i, s"g${i % 2}", i * 1.0))
      .toDF("id", "grp", "v").select(col("id").cast("int"), col("grp"), col("v")),
      root, Seq("grp"))
    BloomIndex.build(spark, root, Seq("id"))
    // the source widens the indexed int column to long, and repeats a key
    val dup = Seq((5L, "g1", -1.0), (5L, "g1", -2.0)).toDF("id", "grp", "v")
    val e = intercept[IllegalArgumentException] {
      Mutations.merge(spark, root, dup, Seq("id"), evolveSchema = true)
    }
    assert(e.getMessage.contains("merge source is not unique on (id)"))
    assert(BloomIndex.params(spark, root).isDefined,
      "a merge that wrote nothing must not drop the index")
  }
}
