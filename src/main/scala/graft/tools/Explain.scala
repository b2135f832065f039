package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.queries.{CorpusQueries, VectorQueries}

/** Prints formatted physical plans, so scan pruning (`PushedFilters`,
  * `ReadSchema`), broadcast joins and WholeStageCodegen spans can be
  * audited (the SURVEY §5 checklist).
  *
  *  - `<query>`: a registered query's final plan.
  *  - `stage:<name>`: the plan of a checkpoint-INTERIOR stage. The
  *    eager `localCheckpoint()` stages do work that is invisible in a
  *    registered query's final plan (it shows only `Scan ExistingRDD`
  *    leaves), so plan evidence for a change inside a checkpointed
  *    stage must dump the stage plan, not the final query plan.
  *
  * With no names it prints every query, then every stage. The fixture
  * is SPARK_GRAFT_SF_DIR (default sf0.01).
  * Usage: runMain graft.tools.Explain [query | stage:name ...]
  */
object Explain {
  // each entry rebuilds the PRE-checkpoint frame of a checkpointed
  // stage so its scans/exchanges are visible
  val stages: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sp1/ka1 shared single-scan tokenize+quality stage: one documents
    // FileScan feeds both the t2 quality columns and the token array
    // the ppl1 arm consumes
    "sp1_ka1_shared_tokenize" -> ((spark, sfDir) =>
      graft.operators.TextAnalysis.qualityWithTokens(
        graft.Tables.documents(spark, sfDir).select("doc_id", "text"),
        "text").drop("text")),
    // hg1's buildEdges output frame: the plan shows the LAST
    // NN-descent round's subtree above the round-1 checkpoint leaf —
    // where the AQE-off capture makes the 2-hop self-join's probe side
    // reuse the checkpointed hashpartitioning(layer, src) instead of
    // re-exchanging the data-sized edge table. Explaining this frame
    // executes the (eager) round-1 checkpoint first.
    "hg1_build_nnd_round2" -> ((spark, sfDir) =>
      VectorQueries.hg1HnswBuild(spark, sfDir)),
    // cl1's checkpoint-interior (cell_id, term, tf) stage
    "cl1_tf_stage" -> ((spark, sfDir) => {
      val (docs, asg) = CorpusQueries.cl1DocsAsg(spark, sfDir)
      CorpusQueries.cl1TfFrame(docs, asg)
    })
  )

  /** The formatted plan of a registered query or a `stage:<name>`. */
  def plan(spark: SparkSession, sfDir: String, name: String): String = {
    val df =
      if (name.startsWith("stage:")) stages(name.stripPrefix("stage:"))(spark, sfDir)
      else SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session()
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted ++
        stages.keys.toSeq.sorted.map("stage:" + _)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(plan(spark, sfDir, n))
    }
    spark.stop()
  }
}
