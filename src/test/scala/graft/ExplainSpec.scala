package graft

import graft.tools.Explain

/** Every `stage:` entry of graft.tools.Explain rebuilds a checkpointed
  * stage from `private[graft]` helpers; building and planning each one
  * here keeps a helper change from breaking the tool unnoticed. */
class ExplainSpec extends SparkSpec {
  Explain.stages.keys.toSeq.sorted.foreach { name =>
    test(s"stage:$name builds and plans") {
      val plan = Explain.plan(spark, sf, s"stage:$name")
      assert(plan.contains("== Physical Plan =="), plan)
    }
  }
}
