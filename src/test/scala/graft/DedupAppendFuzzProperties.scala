package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.core.{Fetch, Publish}

/** Property-fuzz of idempotent append: ANY sequence of overlapping (and
  * re-delivered) batches must land exactly the distinct union of keys —
  * the invariant the exactly-once streaming sink rests on.
  */
object DedupAppendFuzzProperties extends Properties("DedupAppend") {

  // each case pays several real publishes; keep the count bounded
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  // key ranges chosen to force heavy overlap between batches
  private val batchGen: Gen[(Long, Long)] = for {
    lo <- Gen.chooseNum(0L, 400L)
    len <- Gen.chooseNum(1L, 300L)
  } yield (lo, lo + len)

  private val caseGen: Gen[List[(Long, Long)]] = Gen.listOfN(4, batchGen).map(_.toList)

  private var caseId = 0

  property("any overlapping batch sequence lands the exact distinct key union") =
    forAll(caseGen) { batches0 =>
      // the shrinker walks lo/len toward 0 and can produce empty ranges
      // the generator never emits; they're not part of the contract
      val batches = batches0.filter { case (lo, hi) => hi > lo }
      if (batches.isEmpty) true
      else {
      caseId += 1
      val root = s"${sys.props("java.io.tmpdir")}/graft_fuzz/da_$caseId"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      def df(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id"), pmod(col("id"), lit(3)).cast("string").as("p"))
      batches.foreach { case (lo, hi) =>
        Publish.publishDedupAppend(spark, df(lo, hi), root, Seq("id"),
          firstCreatePartitions = Seq("p"))
      }
      val want = batches.flatMap { case (lo, hi) => lo until hi }.toSet
      val got = Fetch.fetch(spark, root).select("id")
        .collect().map(_.getLong(0))
      val distinctOk = got.length == got.toSet.size
      val unionOk = got.toSet == want
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      distinctOk && unionOk
      }
    }
}
