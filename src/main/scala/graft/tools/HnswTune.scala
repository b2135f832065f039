package graft.tools

import graft.queries.VectorQueries
import org.apache.spark.sql.functions._

/** Recall-vs-cost frontier for the hg2 HNSW serving path (r9 verdict
  * task 5): sweep (seed-probe radius, beam, upper hops, layer-0 hops),
  * measure recall@K against the exact v1 results and the wall clock of
  * the full serve, print one line per config. The knee goes into the
  * Hnsw* constants in VectorQueries (both the Spark path and the
  * DuckDB oracle regenerate from them, so hash parity is preserved by
  * construction).
  *
  * Usage: sbt "runMain graft.tools.HnswTune /root/testdata/sf0.1"
  */
object HnswTune {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session()

    // warm the edge cache + exact baseline OUTSIDE the timed region:
    // the sweep measures SERVING cost, the build is hg1's row
    val exact = VectorQueries.v1KnnCos(spark, sfDir)
      .select("query_id", "vec_id").cache()
    val nExact = exact.count()
    VectorQueries.hg2HnswSearch(spark, sfDir).count() // edge cache warm

    val configs = Seq(
      // (probes, beam, hopsUpper, hopsZero)
      (2, 16, 1, 2), (2, 8, 1, 2), (2, 16, 2, 2), (1, 16, 1, 2))
    println(f"${"probes"}%6s ${"beam"}%5s ${"hUp"}%4s ${"hZero"}%6s " +
      f"${"recall"}%8s ${"wall_s"}%8s")
    configs.foreach { case (p, b, hu, hz) =>
      val t0 = System.nanoTime()
      val approx = VectorQueries.hg2SearchCfg(spark, sfDir, p, b, hu, hz)
        .select("query_id", "vec_id").cache()
      approx.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val hits = exact.join(approx, Seq("query_id", "vec_id")).count()
      val recall = hits.toDouble / nExact
      println(f"$p%6d $b%5d $hu%4d $hz%6d $recall%8.4f $wall%8.2f")
      approx.unpersist()
    }
    spark.stop()
  }
}
