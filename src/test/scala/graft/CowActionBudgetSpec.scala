package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Fetch, Mutations, Publish, Versions}

/** The copy-on-write rewrites' action budget, counted in root SQL
  * executions on a small versioned fixture. A source-driven path (MERGE,
  * APPLY CHANGES, replaceWhere) checks its source in its locate execution
  * and sizes its direct write from it: 2. DELETE/UPDATE locate, sample
  * their write's sizing and write: 3. OPTIMIZE's small-file pack runs the
  * same write-and-commit tail: 2. A path that grows past its bound fails
  * here.
  */
class CowActionBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def executions(body: => Any): Int = SqlExecutions.countDuring(spark)(body)._2

  test("copy-on-write rewrites and compactSmall stay within their root SQL execution budget") {
    val root = TestSpark.tmpDir("cow_budget")
    Publish.publishVersioned(spark,
      (0 until 400).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("id", "grp", "v"),
      root, Seq("grp"))
    def rows(ids: Seq[Int], v: Double) = ids.map(i => (i.toLong, s"g${i % 4}", v)).toDF("id", "grp", "v")
    Fetch.fetch(spark, root).count()
    val delete = executions(Mutations.deleteWhere(spark, root, col("id").between(0, 9)))
    val update = executions(Mutations.updateWhere(spark, root,
      col("id").between(20, 29), Map("v" -> lit(-2.0))))
    val replace = executions(Mutations.replaceWhere(spark, root,
      col("id").between(40, 49), rows(40 until 50, -3.0)))
    val replaceScoped = executions(Mutations.replaceWhere(spark, root,
      col("grp") === "g3", rows(Seq(3, 7), -4.0)))
    val merge = executions(Mutations.merge(spark, root, rows(390 until 410, -1.0), Seq("id")))
    val apply = executions(Mutations.applyChanges(spark, root,
      rows(60 until 70, -5.0).withColumn("_op",
        when(col("id") < 65, lit("upsert")).otherwise(lit("delete"))), Seq("id")))
    val compact = executions(Versions.compactSmall(spark, root, smallBytes = 1L << 30))
    val counts = s"delete=$delete update=$update replace=$replace " +
      s"replaceScoped=$replaceScoped merge=$merge apply=$apply compact=$compact"
    info(counts)
    withClue(counts + ": ") {
      assert(delete <= 3 && update <= 3 && replace <= 2 && replaceScoped <= 2)
      assert(merge <= 2 && apply <= 2 && compact <= 2)
    }
    // the budget bought no wrong answer
    val model = scala.collection.mutable.Map((0L until 400L).map(i => i -> i.toDouble): _*)
    model --= (0L until 10L)
    (20L to 29L).foreach(model(_) = -2.0)
    (40L to 49L).foreach(model(_) = -3.0)
    model --= model.keys.filter(_ % 4 == 3).toSeq
    Seq(3L, 7L).foreach(model(_) = -4.0)
    (390L until 410L).foreach(model(_) = -1.0)
    (60L until 65L).foreach(model(_) = -5.0)
    model --= (65L until 70L)
    val live = Fetch.fetch(spark, root).select("id", "v").as[(Long, Double)].collect().toMap
    assert(live == model.toMap)
  }

  test("merge on a row-tracked root with a live deletion vector stays within its budget") {
    val root = TestSpark.tmpDir("cow_budget_dv")
    Publish.publishVersioned(spark,
      (0 until 400).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("id", "grp", "v"),
      root, Seq("grp"))
    Versions.enableRowTracking(spark, root)
    Versions.compact(spark, root)
    Mutations.deleteWhereDv(spark, root, col("id").between(0, 9))
    // the benchmark's shape: the merge is the first read of the new DV
    // set, so it builds the set's lookup
    val merge = executions(Mutations.merge(spark, root,
      (390 until 410).map(i => (i.toLong, s"g${i % 4}", -1.0)).toDF("id", "grp", "v"), Seq("id")))
    info(s"merge=$merge")
    assert(merge <= 2, s"merge=$merge")
    val live = Fetch.fetch(spark, root).select("id", "v").as[(Long, Double)].collect().toMap
    assert(live.size == 400 - 10 + 10)
    assert((390L until 410L).forall(live(_) == -1.0) && live(20L) == 20.0)
  }
}
