package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.FitOrLoad

/** The benchmark's JVM side. `run.py` builds it, prepares the fixtures
  * and launches it; this process runs one workload and writes a raw
  * record (samples, counters, spans) as JSON for `run.py` to check and
  * summarise.
  *
  * {{{
  * Main prepare --small DIR --large DIR --state DIR --out FILE
  * Main run --workload W --seed N --seconds S --trace 0|1
  *          --small DIR --large DIR --state DIR --out FILE
  * }}}
  */
object Main {

  /** batch_small: registry rows whose time goes to planning, job
    * scheduling and artifact validation rather than data (sf0.01). */
  val SmallRows: Seq[String] = Seq(
    "ing_docs",         // ingest
    "v6_knn_ivf",       // vector search
    "m3_ndcg_at_k",     // IR metrics
    "d9_survivors",     // corpus
    "e2_sessions",      // streaming
    "ord1_global_rank") // relational

  /** batch_large: a registry row whose time goes to data work (hash and
    * dot-product kernels, shuffle) on the 5-copy fixture; the workload's
    * IndexStore sequence runs beside it. */
  val LargeRows: Seq[String] = Seq("d6_neardup_lsh")

  val Workloads = Seq("batch_small", "batch_large", "serve")
  /** A cheap row without artifacts that every setup cycle runs once. */
  val WarmupRow = "ing_docs"
  val SetupCycles = 3
  val MinPasses = 2
  /** Requests per serving tier in phase 1: enough for ten beyond its P99. */
  val Pool = 1024
  val WarmupRequests = 64
  /** Lowest recall@5 a vector tier may serve before its answers count as
    * wrong: a few points under what each tier measures on the fixture
    * (IVF at nprobe 32 of 64 cells ~0.95, HNSW ~0.99). */
  val RecallFloor = Map("ivf" -> 0.9, "hnsw" -> 0.95)
  val Phase2Warmup = 0.5
  val Phase2MinSeconds = 2.0

  final case class Opts(mode: String, workload: String = "", seed: Long = 0,
                        seconds: Double = 10, trace: Boolean = false,
                        small: String = "", large: String = "",
                        state: String = "", out: String = "")

  def parse(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(args.head, kv.getOrElse("--workload", ""),
      kv.getOrElse("--seed", "0").toLong, kv.getOrElse("--seconds", "10").toDouble,
      kv.getOrElse("--trace", "0") == "1", kv("--small"), kv("--large"),
      kv("--state"), kv("--out"))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.state}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.state}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** JVM heap in use after a full GC. Spark's cleaner drops blocks
    * (broadcasts, shuffles) of objects the first GC found unreachable
    * asynchronously, so a second GC follows a short wait. */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def artifacts: String = System.getProperty("java.io.tmpdir")

  /** Where prepare keeps the batch v19_hybrid_ann rows serve compares to. */
  def hybridReference(o: Opts): String = s"${o.state}/reference/v19_hybrid_ann"

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val json = o.mode match {
      case "prepare" => prepare(o)
      case "run" if Workloads.contains(o.workload) => new Run(o).apply()
      case _ => throw new IllegalArgumentException(s"bad arguments: ${args.mkString(" ")}")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(o.out), json.getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Untimed: build every fit-or-load artifact the workloads read, and
    * dump the oracle SQL of the benchmark's rows. */
  def prepare(o: Opts): String = {
    val spark = session(o)
    val trace = new Trace(false, "prepare")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def attempt(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val small = new RowRunner(spark, o.small, trace)
    SmallRows.foreach(r => attempt(r)(small.runOnce(r, graft.SparkEntry.queries(r))))
    val large = new RowRunner(spark, o.large, trace)
    LargeRows.foreach(r => attempt(r)(large.runOnce(r, graft.SparkEntry.queries(r))))
    attempt("index centroids")(IndexSequence.centroids(
      IndexSequence.corpus(spark, o.large), artifacts).count())
    attempt("serving artifacts")(new ServeArtifacts(spark, o.large, artifacts))
    attempt("v19_hybrid_ann reference")(graft.SparkEntry.queries("v19_hybrid_ann")(
      spark, o.large).write.mode("overwrite").parquet(hybridReference(o)))
    val oracle = graft.SparkEntry.oracleSql
    val rows = (SmallRows ++ LargeRows).distinct
    Json.obj(Seq(
      "builds" -> FitOrLoad.buildCount.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "oracle" -> Json.obj(rows.filter(oracle.contains).map(r => r -> Json.str(oracle(r))))))
  }
}

/** Whole-machine CPU accounting from /proc/stat, where the OS has it: the
  * share of CPU time the hypervisor gave to other guests (steal) tells a
  * slow run on a busy host from a slow program. */
object Box {
  /** (steal, total) ticks over all CPUs; zeros where unavailable. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
              finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)
}

/** One measured run of one workload. */
final class Run(o: Main.Opts) {
  import Main._

  private val runId = s"${o.workload}-${o.seed}"
  private val trace = new Trace(o.trace, runId)
  private val listener = new EngineListener
  private val loadStart = loadAvg
  private var spark: SparkSession = _

  private val dir = if (o.workload == "batch_small") o.small else o.large
  private val rows = o.workload match {
    case "batch_small" => SmallRows
    case "batch_large" => LargeRows
    case _ => Nil
  }

  // workload state, rebuilt by every setup cycle
  private var runner: RowRunner = _
  private var index: IndexSequence = _
  private var serveArtifacts: ServeArtifacts = _
  private var servers: Servers = _

  /** One setup cycle: session, a warmup row, the artifact loads. */
  private def setupCycle(): Unit = {
    spark = session(o)
    spark.sparkContext.addSparkListener(listener)
    trace.bind(spark.sparkContext)
    runner = new RowRunner(spark, dir, trace)
    runner.runOnce(WarmupRow, graft.SparkEntry.queries(WarmupRow))
    if (o.workload == "batch_large") {
      val corpus = IndexSequence.corpus(spark, dir)
      index = new IndexSequence(spark, corpus,
        IndexSequence.centroids(corpus, artifacts),
        s"${o.state}/index", o.seed, trace)
    }
    if (o.workload == "serve")
      serveArtifacts = new ServeArtifacts(spark, dir, artifacts)
  }

  /** Setup time: the median of [[SetupCycles]] cycles (the first counted
    * from JVM start), plus what runs once before the first timed
    * operation: an untimed pass over the workload's operations, so JIT
    * and codegen caches are warm, and the serving tiers' builds. */
  private def setup(): Double = {
    val cycles = (1 to SetupCycles).map { c =>
      if (spark != null) spark.stop()
      val t0 = if (c == 1) ManagementFactory.getRuntimeMXBean.getStartTime
               else System.currentTimeMillis()
      trace("setup")(setupCycle())
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val t0 = System.nanoTime()
    trace("setup.once") {
      rows.foreach(r => runner.runOnce(r, graft.SparkEntry.queries(r)))
      if (index != null) index.run()
      if (serveArtifacts != null) {
        servers = new Servers(serveArtifacts, o.seed, Pool, trace)
        // each tier's code reaches its compiled form before timing
        for (t <- servers.local ++ servers.sharded; i <- 0 until WarmupRequests) t.call(i)
      }
    }
    val once = (System.nanoTime() - t0) / 1e9
    record("setup_cycles_s") = cycles.map(Json.num).mkString("[", ",", "]")
    record("setup_once_s") = Json.num(once)
    Stats.median(cycles) + once
  }

  private def snap() = Run.Snap(FitOrLoad.buildCount, FitOrLoad.loadCount,
    FitOrLoad.memoHits, FitOrLoad.buildSeconds, gcMs)

  // ---- timed window ----

  private val ops = scala.collection.mutable.LinkedHashMap.empty[String, Op]
  private def op(n: String) = ops.getOrElseUpdate(n, new Op(n))
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  private val record = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val earlier = scala.collection.mutable.ArrayBuffer.empty[Op]
  private var serveRun: ServeRun = _
  private var serveAttempted, serveFailed = 0L
  private var qps = 0.0
  private var passes = 0
  private var windowStart = 0L

  /** The workload's measured operations, for about `seconds`: batch
    * passes repeat while the next one is expected to end in time, and at
    * least [[MinPasses]] run. */
  private def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def more(): Boolean = {
      val spent = (System.nanoTime() - t0) / 1e9
      passes < MinPasses || spent + spent / passes <= seconds
    }
    o.workload match {
      case "serve" => runServe(seconds)
      case _ =>
        rows.foreach(op)
        do {
          runner.pass(rows, ops.toMap)
          if (index != null) runIndex()
          passes += 1
        } while (more())
    }
  }

  private def runIndex(): Unit = {
    val steps = Seq("build", "upsert", "delete", "compact", "query")
      .map(s => s -> op(s"indexstore.$s"))
    steps.foreach(_._2.attempted += 1)
    try {
      val r = index.run()
      if (r.problems.nonEmpty) {
        problems ++= r.problems.map(p => s"indexstore: $p")
        steps.foreach(_._2.failed += 1)
      } else {
        Seq(r.build, r.upsert, r.delete, r.compact, r.query).zip(steps)
          .foreach { case (w, (_, op)) => op.walls += w }
        layers("indexstore.disk_bytes") = r.diskAfterWrites.max.toDouble
        layers("indexstore.space_amp") = r.spaceAmp
      }
    } catch { case e: Throwable => steps.foreach(_._2.fail(e)) }
  }

  private def runServe(seconds: Double): Unit = {
    countServe(serveRun)
    val sr = new ServeRun(servers, trace)
    serveRun = sr
    val gc0 = gcMs
    val t0 = System.nanoTime()
    servers.local.foreach { t =>
      val (lat, alloc) = sr.single(t, Pool, record = true)
      op(t.name).walls ++= lat.map(_ / 1000.0)
      layers(s"serve.${t.name}.p50_ms") = Stats.pct(lat, 0.50)
      layers(s"serve.${t.name}.p99_ms") = Stats.pct(lat, 0.99)
      layers(s"serve.${t.name}.alloc_kb_per_req") =
        if (alloc.isEmpty) 0 else alloc.sum / alloc.length / 1024.0
    }
    val left = math.max(Phase2MinSeconds, seconds - (System.nanoTime() - t0) / 1e9)
    qps = sr.concurrent(servers.local ++ servers.sharded, cores, Phase2Warmup, left)
    layers("serve.gc_ms") = (gcMs - gc0).toDouble
  }

  private def countServe(sr: ServeRun): Unit = if (sr != null) {
    serveAttempted += sr.attempted.getAndSet(0)
    serveFailed += sr.failed.getAndSet(0)
  }

  /** Untraced copy of the window for the tracing-overhead figure. */
  private def wallOf(): Double = ops.values.filter(_.walls.nonEmpty)
    .map(o => Stats.median(o.walls)).sum

  def apply(): String = {
    val setupS = setup()
    val heap = heapMb()

    // a traced run measures an untraced half first: same work with the
    // spans off, so the traced half's wall_s minus its wall_s is the
    // tracing overhead
    val before = snap()
    var untracedWall = 0.0
    if (o.trace) {
      trace.enabled = false
      measure(o.seconds / 2)
      untracedWall = wallOf()
      earlier ++= ops.values; ops.clear(); passes = 0
      trace.enabled = true
    }
    val s0 = snap()
    val cpu0 = Box.cpuTicks()
    val e0 = listener.snapshot()
    val window0 = System.nanoTime()
    windowStart = window0
    measure(if (o.trace) o.seconds / 2 else o.seconds)
    val windowS = (System.nanoTime() - window0) / 1e9
    val s1 = snap()
    val cpu1 = Box.cpuTicks()
    val e1 = listener.snapshot()
    if (o.trace) layers("trace.overhead_s") = wallOf() - untracedWall

    // ---- output checks, outside the timed window ----
    val outDir = s"${o.state}/outputs/${o.workload}"
    val rowErrors =
      if (rows.isEmpty) Map.empty[String, String]
      else runner.writeOutputs(rows, outDir, cores)
    rowErrors.foreach { case (r, e) =>
      if (e.nonEmpty) {
        problems += s"$r: $e"
        (earlier :+ ops(r)).filter(_.name == r).foreach(x => x.failed = x.attempted)
      }
    }
    if (o.workload == "serve") serveChecks()
    if (s1.builds > before.builds)
      problems += s"fit-or-load built ${s1.builds - before.builds} artifacts in the timed window"

    // ---- per-layer figures ----
    engineLayers(e1.minus(e0), windowS)
    val res = s1.memo - s0.memo + s1.loads - s0.loads + s1.builds - s0.builds
    layers("fitorload.builds") = (s1.builds - s0.builds).toDouble
    layers("fitorload.loads") = (s1.loads - s0.loads).toDouble
    layers("fitorload.memo_hits") = (s1.memo - s0.memo).toDouble
    layers("fitorload.build_s") = s1.buildS - s0.buildS
    layers("fitorload.memo_ratio") = if (res == 0) 0 else (s1.memo - s0.memo).toDouble / res
    layers("jvm.gc_ms") = (s1.gc - s0.gc).toDouble
    layers("box.load_avg_start") = loadStart
    layers("box.load_avg_end") = loadAvg
    layers("box.steal_share") = Box.stealShare(cpu0, cpu1)
    spanLayers()

    countServe(serveRun)
    val all = earlier ++ ops.values
    Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "attempted" -> (all.map(_.attempted.toLong).sum + serveAttempted).toString,
      "failed" -> (all.map(_.failed.toLong).sum + serveFailed).toString,
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "cores" -> cores.toString,
      "setup_s" -> Json.num(setupS),
      "heap_mb" -> Json.num(heap),
      "window_s" -> Json.num(windowS),
      "passes" -> passes.toString,
      "pool" -> Pool.toString,
      "qps" -> Json.num(qps),
      "ops" -> ops.values.map(_.toJson).mkString("[", ",\n", "]"),
      "untraced_ops" -> earlier.map(_.toJson).mkString("[", ",\n", "]"),
      "row_outputs" -> Json.str(if (rows.isEmpty) "" else outDir),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]"),
      "record" -> Json.obj(record.toSeq),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "engine_by_span" -> engineBySpan(),
      "spans" -> (if (o.trace) trace.toJson else "[]")))
  }

  /** Engine counters charged to each span name through the local
    * property the spans set. */
  private def engineBySpan(): String = {
    val byName = trace.all.flatMap(s => listener.forSpan(s.id).map(s.name -> _))
      .groupBy(_._1).toSeq.sortBy(_._1)
    Json.obj(byName.map { case (n, ts) =>
      n -> Json.obj(Seq(
        "jobs" -> ts.map(_._2.jobs).sum.toString,
        "stages" -> ts.map(_._2.stages).sum.toString,
        "tasks" -> ts.map(_._2.tasks).sum.toString,
        "executor_cpu_ms" -> Json.num(ts.map(_._2.cpuNs).sum / 1e6),
        "shuffle_bytes" -> ts.map(t => t._2.shuffleRead + t._2.shuffleWrite).sum.toString))
    })
  }

  private def engineLayers(d: EngineListener.Totals, windowS: Double): Unit = {
    layers("engine.jobs") = d.jobs.toDouble
    layers("engine.stages") = d.stages.toDouble
    layers("engine.tasks") = d.tasks.toDouble
    layers("engine.task_failures") = d.taskFailures.toDouble
    layers("engine.sched_delay_ms") = d.schedDelayMs.toDouble
    layers("engine.executor_run_ms") = d.runMs.toDouble
    layers("engine.executor_cpu_ms") = d.cpuNs / 1e6
    layers("engine.gc_ms") = d.gcMs.toDouble
    layers("engine.cpu_util") = d.cpuNs / 1e9 / (windowS * cores)
    layers("tables.input_bytes") = d.inputBytes.toDouble
    layers("shuffle.write_bytes") = d.shuffleWrite.toDouble
    layers("shuffle.read_bytes") = d.shuffleRead.toDouble
    layers("shuffle.fetch_wait_ms") = d.fetchWaitMs.toDouble
    layers("spill.bytes") = d.spill.toDouble
  }

  /** Layer self times from the spans of the traced window. */
  private def spanLayers(): Unit = {
    val self = trace.selfMs(windowStart)
    layers("queries.build_ms") = self.getOrElse("queries.build", 0.0)
    layers("plan.ms") = self.getOrElse("plan", 0.0)
    layers("exec.ms") = self.getOrElse("exec", 0.0)
    Seq("build", "upsert", "delete", "compact", "query").foreach { s =>
      layers(s"indexstore.${s}_s") = self.getOrElse(s"indexstore.$s", 0.0) / 1000
    }
    if (servers != null) servers.buildMs.foreach { case (t, ms) =>
      layers(s"serve.$t.build_ms") = ms }
  }

  private def serveChecks(): Unit = {
    val sr = serveRun
    problems ++= sr.problems.asScala.toSeq.distinct.take(20)
    val K = graft.queries.VectorQueries.K
    // recall@K of the vector tiers against the exact batch top-K
    val exact = servers.exactTopK()
    Seq("ivf", "hnsw").foreach { fam =>
      val refs = sr.reference(fam)
      val hits = servers.vecPool.indices.map { i =>
        val truth = exact.getOrElse(servers.vecPool(i)._1, Set.empty[Long])
        Option(refs(i)).map(_.count(h => truth(h._1))).getOrElse(0)
      }.sum
      val recall = hits.toDouble / (servers.vecPool.length * K)
      layers(s"serve.$fam.recall_at_5") = recall
      if (recall < RecallFloor(fam))
        problems += f"$fam recall@5 $recall%.3f is below ${RecallFloor(fam)}"
    }
    // agreement of the hybrid tier with the batch v19_hybrid_ann rows
    val batch = servers.batchHybrid(hybridReference(o))
    val served = servers.textPool.indices.flatMap { i =>
      Option(sr.reference("hybrid")(i)).toSeq.flatten.map { case (d, s, r) =>
        (servers.textPool(i)._1, d, s, r) }
    }.toSet
    val agree = if (batch.isEmpty) 0.0 else (served & batch).size.toDouble / batch.size
    layers("serve.hybrid.agreement") = agree
    if (agree < 1.0) problems += f"hybrid agreement with v19_hybrid_ann $agree%.4f < 1"
    // the request work profile of the hybrid tier
    val stats = servers.textPool.indices.map(servers.hybridStats)
    val mass = stats.map(_._1.toDouble)
    val cands = stats.map(_._2.toDouble)
    layers("serve.hybrid.posting_mass_p50") = Stats.pct(mass, 0.5)
    layers("serve.hybrid.posting_mass_p99") = Stats.pct(mass, 0.99)
    layers("serve.hybrid.dense_cands_p50") = Stats.pct(cands, 0.5)
    layers("serve.hybrid.dense_cands_p99") = Stats.pct(cands, 0.99)
    // router overhead: sharded P50 minus local P50 on the same requests
    if (o.trace) servers.local.zip(servers.sharded).foreach { case (l, s4) =>
      val (ls, _) = sr.single(l, Pool, record = false)
      val (ss, _) = sr.single(s4, Pool, record = false)
      layers(s"router.${l.family}.overhead_p50_ms") = Stats.median(ss) - Stats.median(ls)
    }
  }
}

object Run {
  /** Fit-or-load counters and JVM GC time at one instant. */
  final case class Snap(builds: Long, loads: Long, memo: Long, buildS: Double, gc: Long)
}
