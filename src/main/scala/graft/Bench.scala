package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Queries execute into
  * the `noop` sink — a count() would let Catalyst drop unreferenced
  * projections (an embed query would "finish" without computing a
  * single embedding); noop materializes every output column.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // the f-interpolators below must emit JSON-valid decimals: under a
    // comma-decimal default locale (de_DE) "%.3f" prints "1,234"
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated filter for profiling single queries;
    // an unregistered name fails here, before the session starts
    val only = sys.env.get("SPARK_GRAFT_QUERIES").toSeq.flatMap(_.split(","))
    val bench = SparkEntry.benchQueries
    val selected = SparkEntry.select(only).map(r => r.name -> bench(r.name))
    val spark = Session()
    // untimed warmup: JVM/JIT, codegen compiler, parquet footer caches,
    // and the noop sink all initialize here instead of inside whichever
    // query happens to run first (it was absorbing ~5 s of one-time cost)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // os load average at start/end: a run made under concurrent load
    // (a DuckDB gate once added +14% drift) carries the evidence
    // itself; anything ≳ cpus at start means a loaded box
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg

    // optional median-of-N per-query mode (r18 verdict task 1): the
    // round comparison died once because ONE stalled run poisoned every
    // row. With SPARK_GRAFT_REPEATS=N > 1 each query's action runs N
    // times back-to-back and `sec` is the MEDIAN wall (lower-middle
    // order statistic — always a real measured run, never an average of
    // two box states). Default 1 = the exact historical behavior; every
    // query still recomputes from the parquet inputs on every repeat
    // (the per-query state hygiene below drops persisted blocks between
    // queries, and nothing is memoized across repeats beyond the
    // long-established fit-or-load artifacts, whose one-time build cost
    // lands in build_sec on the first repeat as before).
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt)
    // offline-artifact BUILD rows run before their consumers (they
    // write the fit-or-load cache; alphabetical order would otherwise
    // land the one-time build cost on whichever report sorts first —
    // cd1 before d8, hg2 before... hg1 sorts first but previously did
    // not persist). Within each tier, alphabetical as before.
    val buildRows = Set("d8_dedup_groups", "hg1_hnsw_build")
    val results = selected
      .sortBy { case (n, _) => (if (buildRows(n)) 0 else 1, n) }
      .map { case (name, fn) =>
      // per-query state hygiene: several operators eagerly
      // localCheckpoint() multi-consumer intermediates (BM25 tf table,
      // Dist.runningTotal, normalize) and nothing unpersists them, so
      // checkpointed RDD blocks accumulate across the whole suite in
      // one JVM and the memory/GC pressure lands on whichever heavy
      // query runs late. A real deployment runs one query per job —
      // drop all persisted state between queries so each one is
      // measured against a clean block manager.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // snapshot the fit-or-load build accumulator around the query so
      // one-time artifact construction (zipf/tf/embeddings/centroids/
      // HNSW edges/d8 components) is attributed to build_sec, and
      // query_sec stays comparable round-over-round even when a cache
      // rebuild lands on this row (r10's unexplained rk1/b2 2x)
      val b0 = graft.operators.FitOrLoad.buildSeconds
      var failed = false
      val walls = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // lower-middle median: for N=1 this IS the single wall, unchanged
      val dt = walls.sorted.apply((walls.size - 1) / 2)
      val buildSec = graft.operators.FitOrLoad.buildSeconds - b0
      if (buildSec > 0.005)
        System.err.println(f"[bench] $name%-18s ${dt}%8.2fs (build ${buildSec}%.2fs)")
      else System.err.println(f"[bench] $name%-18s ${dt}%8.2fs")
      (name, dt, buildSec, if (failed) "failed" else "ok")
    }
    val total = results.map(_._2).sum
    // a crashed row keeps its wall time but is marked, never passed
    // off as a fast timing
    val nFailed = results.count(_._4 == "failed")
    // The driver preserves only a short tail of stdout, and a 240-entry
    // per-query map (~6 KB) overflows it — round 7 lost 174 timings that
    // way. Full fidelity goes to BENCH_DETAIL.json next to the repo
    // root; the single printed line stays well under the capture window
    // by carrying the slowest 25 queries plus the detail-file pointer.
    // per-row {sec, build_sec, query_sec, status}: sec is the measured wall
    // total (backwards-comparable with prior rounds); build_sec is the
    // fit-or-load artifact construction attributed by FitOrLoad's
    // accumulator; query_sec = sec - build_sec is the serve cost a
    // warm deployment pays
    val loadEnd = loadAvg
    // artifact-state self-description (r12 verdict task 7): how many
    // fit-or-load artifacts were BUILT during this run vs served warm
    // from disk, plus the build wall total. "warm" means a pure-serving
    // number (comparable to other warm runs); any builds > 0 means
    // build_sec carries the cold cost explicitly per row.
    val builds = graft.operators.FitOrLoad.buildCount
    val loads = graft.operators.FitOrLoad.loadCount
    // "none": the run touched no fit-or-load artifacts at all — distinct
    // from "warm" (artifacts existed and were served from disk) so the
    // field never over-claims warm serving (r13 advice).
    val artifactState =
      if (builds == 0 && loads == 0) "none"
      else if (builds == 0) "warm" else if (loads == 0) "cold" else "mixed"
    // memo_hits (r18): validated-artifact re-uses served from the
    // in-JVM memo — these were counted as artifact_loads before the
    // FitOrLoad memo existed, so loads dropping across rounds is the
    // memo working, not artifacts going missing.
    val memoHits = graft.operators.FitOrLoad.memoHits
    val loadS =
      f""""load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,""" +
        s""""artifact_state":"$artifactState","artifact_builds":$builds,""" +
        s""""artifact_loads":$loads,"artifact_memo_hits":$memoHits,""" +
        s""""repeats":$repeats"""
    val fullJson = {
      val qs = results.map { case (k, v, b, st) =>
        f""""$k":{"sec":$v%.3f,"build_sec":$b%.3f,"query_sec":${v - b}%.3f,"status":"$st"}"""
      }.mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","n":${results.size},"n_failed":$nFailed,"build_sec_total":${results.map(_._3).sum}%.2f,$loadS,"queries":$qs,"sf":"$sfDir"}"""
    }
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    java.nio.file.Files.write(detailPath, fullJson.getBytes("UTF-8"))
    val worst = results.sortBy(-_._2).take(25)
      .map { case (k, v, _, _) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","n":${results.size},"n_failed":$nFailed,"mean_sec":${total / math.max(1, results.size)}%.3f,$loadS,"queries":$worst,"queries_file":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
