package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Fetch, Mutations, Publish}

/** The deletion-vector mutation path's action budget: the locate scan,
  * the DV write and the observed facts (covered files, row count, write
  * sizing) are ONE action, then one data write — `mergeDv` and
  * `updateWhereDv` ≤ 3 root SQL executions, `deleteWhereDv` ≤ 2, with a
  * warm DV lookup; a cold lookup (the first read of a new DV set) adds at
  * most one more.
  */
class DvActionBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def executions(body: => Any): Int = SqlExecutions.countDuring(spark)(body)._2

  test("dv mutations stay within their root SQL execution budget") {
    val root = TestSpark.tmpDir("dv_budget")
    Publish.publishVersioned(spark,
      (0 until 400).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("id", "grp", "v"),
      root, Seq("grp"))
    def warm(): Unit = Fetch.fetch(spark, root).count()
    def merge(from: Int) = Mutations.mergeDv(spark, root,
      (from until from + 20).map(i => (i.toLong, s"g${i % 4}", -1.0)).toDF("id", "grp", "v"),
      Seq("id"))
    def update(lo: Int) = Mutations.updateWhereDv(spark, root,
      col("id").between(lo, lo + 9), Map("v" -> lit(-2.0)))
    def delete(lo: Int) = Mutations.deleteWhereDv(spark, root,
      col("id").between(lo, lo + 9))

    delete(0) // the first DV: later mutations read through a DV lookup
    warm()
    val mergeWarm = executions(merge(390))
    val updateCold = executions(update(100))
    warm()
    val updateWarm = executions(update(120))
    val deleteCold = executions(delete(140))
    warm()
    val deleteWarm = executions(delete(160))
    val mergeCold = executions(merge(180))
    val counts = s"merge warm=$mergeWarm cold=$mergeCold, update warm=$updateWarm " +
      s"cold=$updateCold, delete warm=$deleteWarm cold=$deleteCold"
    info(counts)
    withClue(counts + ": ") {
      assert(mergeWarm <= 3 && updateWarm <= 3 && deleteWarm <= 2)
      assert(mergeCold <= 4 && updateCold <= 4 && deleteCold <= 3)
    }
    // the budget bought no wrong answer
    val live = Fetch.fetch(spark, root).select("id", "v").as[(Long, Double)].collect().toMap
    assert(live.size == 410 - 30)
    assert(((100L to 109L) ++ (120L to 129L)).forall(live(_) == -2.0))
    assert((180L to 199L).forall(live(_) == -1.0) && live(390L) == -1.0)
  }
}
