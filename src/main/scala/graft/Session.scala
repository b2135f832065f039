package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft entry point runs under, so
  * the plans a tool dumps, the timings Bench records and the results
  * Verify gates all come from the same engine configuration.
  *
  * Settable values (all environment, nothing else):
  *  - `SPARK_GRAFT_CPUS`: local worker threads; default is the JVM's
  *    measured `availableProcessors`.
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS`: default = cpus. Rung runs
  *    (sf30+) raise it: with partitions == cpus a 300x fixture puts
  *    >10M rows in each shuffle partition, and the per-task sorter
  *    pointer arrays become 256MB+ G1-humongous allocations that OOM a
  *    16g heap even though total data would spill fine. AQE (on by
  *    default) coalesces the excess partitions at small SF, so the
  *    override is free at gate scale.
  *  - `SPARK_GRAFT_UI`: diagnosis runs set it to `true` to watch
  *    stages live.
  */
object Session {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", sys.env.getOrElse("SPARK_GRAFT_UI", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
