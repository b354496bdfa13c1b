package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.{BloomIndex, DatasetLock, Fetch, Mutations, Publish, StatsIndex}

/** The write-and-commit tail every versioned rewrite shares: it maintains
  * each sidecar index once for the files it writes, and it takes no
  * dataset lock on a root that has no index to maintain.
  */
class RewriteTailSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit val signaler: Signaler = ThreadSignaler

  private def target(name: String): String = {
    val root = TestSpark.tmpDir(name)
    Publish.publishVersioned(spark,
      (0 until 200).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("id", "grp", "v"),
      root, Seq("grp"))
    root
  }

  /** (file, column) pairs holding more than one row of `sidecar`. */
  private def duplicated(sidecar: String): Long =
    spark.read.parquet(sidecar).groupBy("file", "column").count()
      .where(col("count") > 1).count()

  test("updateWhereDv appends one bloom row per new (file, column)") {
    val root = target("tail_bloom")
    BloomIndex.build(spark, root, Seq("id"), expectedItemsPerFile = 1024)
    val r = Mutations.updateWhereDv(spark, root, col("id") < 20, Map("v" -> lit(-1.0)))
    assert(r.addedFiles.nonEmpty)
    assert(duplicated(s"$root/${BloomIndex.DirName}") == 0)
  }

  test("deleteWhere appends one stats row per new (file, column)") {
    val root = target("tail_stats")
    StatsIndex.build(spark, root, Seq("id", "v"))
    val r = Mutations.deleteWhere(spark, root, col("id") % 10 === 0)
    assert(r.addedFiles.nonEmpty)
    assert(duplicated(s"$root/${StatsIndex.DirName}") == 0)
    assert(Fetch.fetch(spark, root).count() == 180)
  }

  test("deleteWhere and mergeDv finish while another thread holds the dataset lock") {
    val root = target("tail_lock")
    val holding = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => DatasetLock.withLock(spark, root) {
      holding.countDown()
      release.await(120, TimeUnit.SECONDS); ()
    })
    holder.start()
    try {
      assert(holding.await(30, TimeUnit.SECONDS))
      failAfter(60.seconds) {
        Mutations.deleteWhere(spark, root, col("id") < 10)
        Mutations.mergeDv(spark, root,
          Seq((11L, "g3", -1.0), (500L, "g0", 5.0)).toDF("id", "grp", "v"), Seq("id"))
      }
    } finally {
      release.countDown()
      holder.join(60000)
    }
    assert(Fetch.fetch(spark, root).count() == 191)
  }
}
