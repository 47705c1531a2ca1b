package graft

import graft.pipeline.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §7.6 risk 4: the CC loop must truncate lineage each iteration;
  * without localCheckpoint the plan doubles per round and Catalyst
  * analysis blows up long before the data does. */
class CcPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cc output plan size is bounded regardless of iteration count") {
    // a long chain forces many large/small-star rounds
    val chain = (1L to 400L).map(i => (i, i + 1))
    val out = ConnectedComponents.run(spark, chain.toDF("u", "v"))
    val planLines = out.queryExecution.optimizedPlan.treeString.linesIterator.size
    assert(planLines < 60, s"plan grew with iterations: $planLines lines")
    // and it still converges correctly: one component rooted at 1
    val cc = out.as[(Long, Long)].collect()
    assert(cc.forall(_._2 == 1L) && cc.length == 401)
  }
}
