package graft.tools

import graft.queries.VectorQueries

/** Sweep the planted-cluster geometry (hg6) for the regime where graph
  * hops demonstrably navigate: per (alpha, probes, beam), build the
  * planted graph and print recall@K at layer-0 hop depths 0..2. The
  * demonstrative knee — cluster term dominating the RANKING while the
  * residual still defeats LSH enumeration, so recall RISES with hops —
  * goes into VectorQueries.PlantedAlpha (Spark path and DuckDB oracle
  * both regenerate from it).
  *
  * Usage: sbt "runMain graft.tools.PlantedTune /root/testdata/sf0.1"
  */
object PlantedTune {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()

    val configs: Seq[(Double, Int, Int, Int)] =
      if (args.length > 1) args.drop(1).map { a =>
        val p = a.split(":"); (p(0).toDouble, p(1).toInt, p(2).toInt, if (p.length > 3) p(3).toInt else graft.queries.VectorQueries.HnswHopsZero)
      }.toSeq
      else Seq((0.4, 2, 8, 2), (0.5, 2, 8, 2), (0.6, 2, 8, 2), (0.75, 2, 8, 2))
    println(f"${"alpha"}%6s ${"probes"}%6s ${"beam"}%5s  recall@hops(0..hz)")
    configs.foreach { case (alpha, probes, beam, hz) =>
      val rows = VectorQueries.hg6PlantedRecallCfg(
        spark, sfDir, alpha, probes, beam, hz)
        .orderBy("hops").collect()
        .map(r => f"${r.getDouble(2)}%.4f").mkString("  ")
      println(f"$alpha%6.2f $probes%6d $beam%5d  $rows")
    }
    spark.stop()
  }
}
