package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Action-budget capture ("this operation runs at most N Spark actions"):
  * counts the ROOT SQL executions started inside `body` — one per action
  * (collect, write, count, ...); executions nested under another one (a
  * write's inner query, a subquery) are not counted.
  */
object SqlExecutions {
  def countDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val roots = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) => roots.incrementAndGet()
        case _ => ()
      }
    }
    TestShim.drainListenerBus(spark.sparkContext) // settle earlier work
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      TestShim.drainListenerBus(spark.sparkContext)
      (r, roots.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
