package graft

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.{Fetch, Publish}

/** Idempotent append: re-delivered rows never duplicate, genuinely new
  * rows always land, within a fixed Spark action budget.
  */
class DedupAppendSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(name: String): String = {
    val r = s"/tmp/graft_test/dedup_append_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    r
  }

  test("first call publishes, exact redelivery appends nothing") {
    val r = fresh("redeliver")
    val batch = spark.range(0, 500).select(col("id"), (col("id") % 5).cast("string").as("p"))
    val first = Publish.publishDedupAppend(spark, batch, r, Seq("id"))
    assert(first.nonEmpty)
    val second = Publish.publishDedupAppend(spark, batch, r, Seq("id"))
    assert(second.isEmpty, "identical redelivery must write nothing")
    assert(Fetch.fetch(spark, r).count() == 500)
  }

  test("overlapping batch appends exactly the new keys") {
    val r = fresh("overlap")
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") % 3).cast("string").as("p"))
    Publish.publishDedupAppend(spark, rows(0, 300), r, Seq("id"))
    Publish.publishDedupAppend(spark, rows(200, 600), r, Seq("id"))
    val got = Fetch.fetch(spark, r)
    assert(got.count() == 600)
    assert(got.select("id").distinct().count() == 600)
  }

  test("null-keyed rows are idempotent too (null-safe anti-join)") {
    val r = fresh("nulls")
    val batch = Seq(Some(1L), Some(2L), None).toDF("id")
    Publish.publishDedupAppend(spark, batch, r, Seq("id"))
    Publish.publishDedupAppend(spark, batch, r, Seq("id")) // exact redelivery
    val got = Fetch.fetch(spark, r)
    assert(got.count() == 3, "null-keyed row must not re-append on redelivery")
  }

  test("key-type mismatch between batch and dataset is rejected") {
    val r = fresh("types")
    Publish.publishDedupAppend(spark, spark.range(0, 10).toDF("id"), r, Seq("id"))
    val intBatch = Seq(5, 20).toDF("id") // int, dataset has bigint
    val e = intercept[IllegalArgumentException] {
      Publish.publishDedupAppend(spark, intBatch, r, Seq("id"))
    }
    assert(e.getMessage.contains("must equal"))
  }

  test("data without a sidecar is never clobbered by the first-create path") {
    val r = fresh("clobber")
    // simulate a crashed publish: parquet data present, no graft metadata
    spark.range(0, 5).toDF("id").write.parquet(r)
    val e = intercept[IllegalArgumentException] {
      Publish.publishDedupAppend(spark, spark.range(0, 3).toDF("id"), r, Seq("id"))
    }
    assert(e.getMessage.contains("no graft metadata"))
    assert(spark.read.parquet(r).count() == 5, "pre-existing data must survive")
  }

  test("overlapping batches then an exact redelivery: the redelivery writes no file") {
    val r = fresh("chain")
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
    Publish.publishDedupAppend(spark, rows(0, 300), r, Seq("id"))
    // second batch: overlap + new keys
    Publish.publishDedupAppend(spark, rows(200, 500), r, Seq("id"))
    assert(Fetch.fetch(spark, r).count() == 500)
    // exact redelivery of everything stored must append nothing
    val files3 = Publish.publishDedupAppend(spark, rows(0, 500), r, Seq("id"))
    assert(files3.isEmpty, "a redelivery of stored keys must write no file")
    assert(Fetch.fetch(spark, r).select("id").distinct().count() == 500)
  }

  test("multi-column keys and in-batch duplicates") {
    val r = fresh("multi")
    val batch = Seq((1L, "a", 10.0), (1L, "b", 11.0), (2L, "a", 12.0),
      (2L, "a", 99.0) /* in-batch dup on (2,a) */).toDF("k1", "k2", "v")
    Publish.publishDedupAppend(spark, batch, r, Seq("k1", "k2"))
    assert(Fetch.fetch(spark, r).count() == 3)
    Publish.publishDedupAppend(spark,
      Seq((1L, "a", 50.0), (3L, "c", 13.0)).toDF("k1", "k2", "v"), r, Seq("k1", "k2"))
    val got = Fetch.fetch(spark, r).select("k1", "k2").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (1L, "b"), (2L, "a"), (3L, "c")))
  }

  test("plain dedup-append stays within its root SQL execution budget") {
    failAfter(120.seconds) {
      val r = fresh("budget")
      def rows(lo: Long, hi: Long) =
        spark.range(lo, hi).select(col("id"), (col("id") % 4).cast("string").as("p"))
      Publish.publishDedupAppend(spark, rows(0, 200), r, Seq("id"),
        firstCreatePartitions = Seq("p"))
      // one action materialises the new rows and observes their count and
      // sizing, then the write; nothing new stops after the first
      val (files, appending) = SqlExecutions.countDuring(spark)(
        Publish.publishDedupAppend(spark, rows(150, 300), r, Seq("id")))
      val (none, redelivery) = SqlExecutions.countDuring(spark)(
        Publish.publishDedupAppend(spark, rows(0, 300), r, Seq("id")))
      info(s"appending=$appending redelivery=$redelivery")
      assert(files.nonEmpty && none.isEmpty)
      assert(appending <= 2 && redelivery <= 1, s"appending=$appending redelivery=$redelivery")
      val ids = Fetch.fetch(spark, r).select("id").as[Long].collect().sorted
      assert(ids.toSeq == (0L until 300L))
    }
  }
}
