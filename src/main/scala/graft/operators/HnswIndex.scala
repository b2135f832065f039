package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** HNSW-style layered neighbor-graph index, batch-built (SURVEY §2.3
  * hg1/hg2/hg3) — the index family the reference actually serves from
  * (/root/reference/src/chroma.py:76-80 `hnsw:space=cosine`;
  * assignment.md:28 lists nmslib). A faithful incremental HNSW insert
  * is pointer-chasing and inherently sequential; the Spark-native
  * re-expression is the BATCH build used by distributed ANN systems:
  *
  *  - Layer assignment is hash-geometric and deterministic:
  *    level(v) = max l with mixedHash(vec_id) % 4^l == 0 (capped), so
  *    P(level ≥ l) = 4^-l — the classic exponentially-thinning HNSW
  *    hierarchy, with no RNG state (both engines compute the same
  *    integer, so the oracle rebuilds the identical hierarchy).
  *  - Per-layer edges come from the SAME random-hyperplane LSH bucket
  *    join the near-dup path uses, with one twist that makes it
  *    scale-invariant: layer l keeps only the low bits_l sign bits of
  *    the 6-bit bucket (a PREFIX of the planes). Members thin 4× per
  *    layer while buckets coarsen 4× per layer, so expected bucket
  *    occupancy N_l / 2^bits_l is the SAME at every layer — candidate
  *    volume per layer stays bucket-bounded at any corpus size, never
  *    all-pairs. Edges are the per-source top-M by rounded cosine
  *    (6 dp) with dst tie-break — deterministic in both engines.
  *  - Search is the greedy descent unrolled to a FIXED hop schedule
  *    (the g1-PageRank unrolled-rounds policy): start at the global
  *    max-level node, take `hopsUpper` greedy steps per layer from the
  *    top layer down, then `hopsZero` steps at layer 0; the answer is
  *    the top-k over every visited layer-0 node's neighborhood (a
  *    poor-man's beam of width hopsZero+1). Each step is one
  *    broadcast-ish join of the tiny (query, cursor) frame against the
  *    edge table — queries never touch the corpus beyond the visited
  *    neighborhoods.
  */
object HnswIndex {

  /** Deterministic hash-geometric level: max l ≤ maxLevel with
    * mixedHash(id) % 4^l == 0. */
  def level(id: Column, maxLevel: Int): Column = {
    val h = Sampling.mixedHash(id)
    var c = when(h % lit(4L) =!= 0L, lit(0))
    for (l <- 1 until maxLevel)
      c = c.when(h % lit(1L << (2 * (l + 1))) =!= 0L, lit(l))
    c.otherwise(lit(maxLevel))
  }

  /** (vec_id, v, lvl) with the hash-geometric level attached. */
  def withLevels(corpus: DataFrame, maxLevel: Int): DataFrame =
    corpus.select(col("vec_id"), col("v"),
      level(col("vec_id"), maxLevel).as("lvl"))

  /** Batch-build the layered edge lists: (layer, src, dst, score, rnk)
    * with rnk ≤ m per (layer, src). bitsPerLayer/tablesPerLayer are
    * indexed by layer; w supplies max(bitsPerLayer) planes per table
    * and layer l uses the first bitsPerLayer(l) of them (bucket
    * prefix-mask = bucket % 2^bits). */
  /** Per-layer bucket mask / table count as CASE columns over a
    * `layer` column — lets ALL layers share one join pipeline. */
  private def maskCol(bitsPerLayer: Array[Int]): Column =
    bitsPerLayer.indices.tail.foldLeft(
      when(col("layer") === 0, lit(1L << bitsPerLayer(0)))) { (acc, l) =>
      acc.when(col("layer") === l, lit(1L << bitsPerLayer(l)))
    }.otherwise(lit(1L))

  private def tablesCol(tablesPerLayer: Array[Int]): Column =
    tablesPerLayer.indices.tail.foldLeft(
      when(col("layer") === 0, lit(tablesPerLayer(0)))) { (acc, l) =>
      acc.when(col("layer") === l, lit(tablesPerLayer(l)))
    }.otherwise(lit(0))

  /** (layer, tbl, b, vec_id) bucket rows for every layer a member
    * belongs to — the ONE exploded form all layers join through.
    * Row count is Σ_l N_l · tables_l ≈ 1.33·N·tables: the geometric
    * level thinning pays for the layer explosion. */
  private def layerBuckets(base: DataFrame, w: Array[Array[Array[Double]]],
                           bitsPerLayer: Array[Int],
                           tablesPerLayer: Array[Int]): DataFrame =
    base.select(col("vec_id"), col("lvl"),
      posexplode(VectorSearch.hyperplaneBuckets(col("v"), w))
        .as(Seq("tbl", "bucket")))
      .select(col("vec_id"), col("tbl"), col("bucket"),
        explode(sequence(lit(0), col("lvl"))).as("layer"))
      .filter(col("tbl") < tablesCol(tablesPerLayer))
      .select(col("layer"), col("tbl"),
        (col("bucket") % maskCol(bitsPerLayer)).as("b"), col("vec_id"))

  def buildEdges(corpus: DataFrame, w: Array[Array[Array[Double]]],
                 bitsPerLayer: Array[Int], tablesPerLayer: Array[Int],
                 m: Int, ndRounds: Int = 1): DataFrame = {
    val base = withLevels(corpus, bitsPerLayer.length - 1)
    // ONE pipeline for all layers (vs one join chain per layer): the
    // exploded (layer, tbl, masked-bucket) rows make `layer` part of
    // the join key, so candidates/rescore/top-M each run once.
    val lr = layerBuckets(base, w, bitsPerLayer, tablesPerLayer)
    val va = base.select(col("vec_id").as("id_a"), col("v").as("va"))
    val vb = base.select(col("vec_id").as("id_b"), col("v").as("vb"))
    // heap-dedup instead of a candidate-multiset distinct() (kg1's r18
    // lesson — the exact-dedup hash aggregate of the pair multiset was
    // 49 of kg1's 63 s at sf30): duplicate (layer, id_a, id_b) rows
    // from multi-table collisions score to bit-identical (score, dst)
    // and TopK's distinct mode drops them map-side in O(1), so the
    // whole distinct exchange disappears from every build round
    val cand = lr.select(col("layer"), col("tbl"), col("b"),
        col("vec_id").as("id_a"))
      .join(lr.select(col("layer"), col("tbl"), col("b"),
        col("vec_id").as("id_b")), Seq("layer", "tbl", "b"))
      .filter(col("id_a") < col("id_b"))
      .select("layer", "id_a", "id_b")
    val sc = cand.join(va, "id_a").join(vb, "id_b")
      .select(col("layer"), col("id_a"), col("id_b"),
        round(Vec.cosine(col("va"), col("vb")), 6).as("score"))
    val directed = sc.select(col("layer"), col("id_a").as("src"),
        col("id_b").as("dst"), col("score"))
      .unionAll(sc.select(col("layer"), col("id_b").as("src"),
        col("id_a").as("dst"), col("score")))
    val ed0 = graft.plans.TopK.perKey(directed, Seq("layer", "src"),
      Seq(col("score").desc, col("dst").asc), m, distinct = true)
      .select("layer", "src", "dst")
    // NN-descent rounds (Dong et al., WWW'11): LSH buckets alone cap
    // graph quality at the bucket recall; each round refines against
    // reversed edges + neighbors-of-neighbors at |E|·M bounded cost —
    // no all-pairs anywhere. Reachability roughly squares per round,
    // so 2 rounds close most of the gap to the true kNN graph.
    val vs = va.withColumnRenamed("id_a", "src").withColumnRenamed("va", "vs")
    val vd = vb.withColumnRenamed("id_b", "dst").withColumnRenamed("vb", "vd")
    var ed = ed0
    for (r <- 1 to ndRounds) {
      // same heap-dedup trade as ed0: overlapping reversed/2-hop paths
      // produce bit-identical scored rows the distinct-mode heap drops
      val ndCand = ed
        .unionAll(ed.select(col("layer"), col("dst").as("src"),
          col("src").as("dst")))
        .unionAll(ed.select(col("layer"), col("src"), col("dst").as("mid"))
          .join(ed.select(col("layer"), col("src").as("mid"),
            col("dst").as("dst2")), Seq("layer", "mid"))
          .filter(col("src") =!= col("dst2"))
          .select(col("layer"), col("src"), col("dst2").as("dst")))
      val ndScored = ndCand.join(vs, "src").join(vd, "dst")
        .select(col("layer"), col("src"), col("dst"),
          round(Vec.cosine(col("vs"), col("vd")), 6).as("score"))
      val topm = graft.plans.TopK.perKey(ndScored, Seq("layer", "src"),
        Seq(col("score").desc, col("dst").asc), m, distinct = true)
      // intermediate rounds feed the next candidate expansion (src,dst
      // only, checkpointed to keep the multi-round lineage flat); the
      // last round keeps score+rnk as the output edge table
      ed =
        if (r == ndRounds) topm.select("layer", "src", "dst", "score", "rnk")
        else {
          // Capture the round's edges with AQE OFF so the checkpoint
          // keeps the TopK merge exchange's hashpartitioning(layer,
          // src) (AQE-on capture degrades it to UnknownPartitioning;
          // AQE-off capture + AQE-on consumers keeps it, as TopKSpec's
          // merge-output partitioning test pins). The next round's neighbor-of-neighbor self-join
          // keys its probe side by exactly (layer, src), so the
          // data-sized |E| re-exchange of the edge table disappears
          // from every subsequent NN-descent round. Conf restored
          // immediately — only this round's capture runs non-adaptive.
          val spark = corpus.sparkSession
          val aqe = spark.conf.get("spark.sql.adaptive.enabled")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          try topm.select("layer", "src", "dst").localCheckpoint()
          finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
        }
    }
    ed
  }

  /** Incremental maintenance: fresh per-layer edge lists for a batch
    * of UPDATED vectors against the current (merged) corpus — the
    * IndexStore.upsert analog for the graph index. Work is O(batch ×
    * bucket occupancy), never O(corpus): only the batch side explodes
    * into buckets as the probe, the corpus side reuses the same
    * bucket keys the build used. Edges FROM unchanged nodes TO a
    * replaced vector keep their stale scores until a compact — the
    * same merge-on-read debt IndexStore carries, by design (writes
    * stay O(batch)). batch/corpus: (vec_id, v); corpus is the merged
    * post-upsert state including the batch. */
  def deltaEdges(batch: DataFrame, corpus: DataFrame,
                 w: Array[Array[Array[Double]]], bitsPerLayer: Array[Int],
                 tablesPerLayer: Array[Int], m: Int): DataFrame = {
    val maxLevel = bitsPerLayer.length - 1
    val bl = withLevels(batch, maxLevel)
    val cl = withLevels(corpus, maxLevel)
    // same one-pipeline shape as buildEdges: only the small batch side
    // probes, keyed by (layer, tbl, masked bucket)
    val blr = layerBuckets(bl, w, bitsPerLayer, tablesPerLayer)
      .select(col("layer"), col("tbl"), col("b"), col("vec_id").as("bid"))
    val clr = layerBuckets(cl, w, bitsPerLayer, tablesPerLayer)
    val va = bl.select(col("vec_id").as("src"), col("v").as("vs"))
    val vb = cl.select(col("vec_id").as("dst"), col("v").as("vd"))
    val cand = blr.join(clr, Seq("layer", "tbl", "b"))
      .filter(col("bid") =!= col("vec_id"))
      .select(col("layer"), col("bid").as("src"), col("vec_id").as("dst"))
    // multi-table duplicate candidates dedup in the heap (see ed0)
    val sc = cand.join(va, "src").join(vb, "dst")
      .select(col("layer"), col("src"), col("dst"),
        round(Vec.cosine(col("vs"), col("vd")), 6).as("score"))
    graft.plans.TopK.perKey(sc, Seq("layer", "src"),
      Seq(col("score").desc, col("dst").asc), m, distinct = true)
      .select("layer", "src", "dst", "score", "rnk")
  }

  /** Compaction: fold a merged candidate edge multiset (old edges with
    * possibly-stale scores + upsert deltas + their reverses) into a
    * clean serving table — rescore every edge against the CURRENT
    * vectors, drop endpoints no longer in the corpus (the inner joins),
    * and re-enforce the top-M degree cap per (layer, src). This is the
    * merge-on-read debt collector for deltaEdges: edges from unchanged
    * nodes TO replaced vectors carry stale scores until compaction
    * (IndexStore.compact's analog for the graph index). Cost is
    * O(|E|·rescore) — no candidate generation, no bucket join: at
    * 100 TB this is one shuffle-join of the edge table against the
    * vector table, embarrassingly parallel on the edge partitioning.
    * edges: (layer, src, dst, ...); corpus: (vec_id, v). */
  def compactEdges(edges: DataFrame, corpus: DataFrame, m: Int): DataFrame = {
    val vs = corpus.select(col("vec_id").as("src"), col("v").as("vs"))
    val vd = corpus.select(col("vec_id").as("dst"), col("v").as("vd"))
    // merged-multiset duplicates (old edge + delta + reverse of either)
    // rescore to bit-identical rows — heap-dedup them (see ed0) instead
    // of a full distinct exchange of the edge multiset
    val sc = edges.select("layer", "src", "dst")
      .filter(col("src") =!= col("dst"))
      .join(vs, "src").join(vd, "dst")
      .select(col("layer"), col("src"), col("dst"),
        round(Vec.cosine(col("vs"), col("vd")), 6).as("score"))
    graft.plans.TopK.perKey(sc, Seq("layer", "src"),
      Seq(col("score").desc, col("dst").asc), m, distinct = true)
      .select("layer", "src", "dst", "score", "rnk")
  }

  /** The walk frontier pulled to the driver as a LOCAL relation. The
    * frontier is (serving-batch × beam)-sized at ANY corpus scale —
    * the same metadata-size class as Dist.runningTotal's ≤ #partitions
    * collect — and holding it as a LocalTableScan means the next hop's
    * broadcast needs NO cluster job to build (and no per-state
    * localCheckpoint job + block write): the r18 verdict's task-7
    * profile measured the walk hop-JOB-bound (hg2: 60 jobs / ~2 tasks
    * each / ~0.1 s fixed cost per job), so each eliminated per-hop job
    * is directly wall time. The coordinator-held frontier is how
    * production distributed graph-ANN serving works; the per-hop
    * neighbor expansion and scoring stay cluster-side. */
  private def localFrontier(df: DataFrame): DataFrame = graft.Dist.localize(df)

  /** One greedy/beam step at one layer: the cursor SET moves to the
    * top-`k` of {itself} ∪ its layer-l neighbors by rounded cosine
    * (ties to the smaller vec_id). k=1 is greedy descent (upper
    * layers); k=B is HNSW's ef-search beam (layer 0) — a single
    * cursor stalls in a flat similarity landscape, a beam keeps B
    * frontier nodes alive. cur: a LOCAL (query_id, qv, node) relation;
    * the result is pulled back to a local relation, so one hop costs
    * exactly two cluster jobs (candidate-gen broadcast build over the
    * layer's edges + the scoring scan of base) and zero checkpoints. */
  private def step(cur: DataFrame, layerEdges: DataFrame,
                   base: DataFrame, k: Int): DataFrame = {
    val nbrs = layerEdges.select(col("src"), col("dst"))
      .join(broadcast(cur), col("node") === col("src"))
      .select(col("query_id"), col("qv"), col("dst").as("cand"))
    // dedup before ranking: cursors converge and share neighbors, and a
    // duplicate (query_id, cand) row would consume a rank slot — the
    // effective beam silently shrinks below k (the SQL stepCte carries
    // the matching DISTINCT)
    val u = cur.select(col("query_id"), col("qv"), col("node").as("cand"))
      .unionAll(nbrs)
    val scored = base.select(col("vec_id").as("cand"), col("v"))
      .join(broadcast(u), "cand")
      .select(col("query_id"), col("qv"), col("cand"),
        round(Vec.cosine(col("qv"), col("v")), 6).as("sc"))
    // duplicate (query_id, cand) rows (converged cursors sharing a
    // neighbor) are bit-identical in (sc, cand), so TopK's distinct
    // mode drops them in the SAME pass that ranks — the separate
    // dropDuplicates exchange per hop is gone, and the beam still
    // never shrinks below k distinct candidates (the SQL stepCte
    // carries the matching DISTINCT)
    localFrontier(graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("sc").desc, col("cand").asc), k, distinct = true)
      .select(col("query_id"), col("qv"), col("cand").as("node")))
  }

  /** The visited layer-0 cursor states s_0 .. s_hopsZero: s_0 is the
    * cursor after the upper-layer descent, s_i its i-th layer-0 step.
    * queries: (query_id, qv). */
  /** Optional extra layer-0 entry points per query (query_id, qv,
    * node) — e.g. the query's own LSH-bucket top-B. A single global
    * entry navigates poorly when similarity is noise-dominated; real
    * deployments seed the beam query-adaptively and let the graph
    * refine. Unioned (distinct) into the initial layer-0 beam. */
  def visitedStates(queries: DataFrame, edges: DataFrame, corpus: DataFrame,
                    maxLevel: Int, hopsUpper: Int, hopsZero: Int,
                    beam: Int = 1, seeds: Option[DataFrame] = None
                   ): Seq[DataFrame] =
    walk(queries, edges, corpus, maxLevel, hopsUpper, hopsZero, beam, seeds)._1

  /** visitedStates plus the walk's materialized (edges, base) frames,
    * so downstream scoring (resultsFromVisited / a recall curve) reads
    * the SAME in-memory checkpoints instead of re-scanning the edge
    * parquet artifact and the corpus a second time. */
  def walk(queries: DataFrame, edges: DataFrame, corpus: DataFrame,
           maxLevel: Int, hopsUpper: Int, hopsZero: Int,
           beam: Int = 1, seeds: Option[DataFrame] = None
          ): (Seq[DataFrame], DataFrame, DataFrame) = {
    // AQE off for the walk's own actions, restored right after: every
    // exchange inside a hop is FRONTIER-sized (≤ queries × beam ×
    // (M+1) rows at any corpus scale), so adaptive re-planning can
    // coalesce nothing — it only adds one stage-materialization job
    // per exchange to an already hop-job-bound schedule (the r18
    // task-7 profile: ~0.1 s fixed cost per job, ~2 tasks per job).
    // This is a scale-independent property of the walk, not a
    // local[32] tuning: the frontier does not grow with the corpus.
    val spark = queries.sparkSession
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try walkInner(queries, edges, corpus, maxLevel, hopsUpper, hopsZero,
      beam, seeds)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  private def walkInner(queries: DataFrame, edges: DataFrame,
                        corpus: DataFrame, maxLevel: Int, hopsUpper: Int,
                        hopsZero: Int, beam: Int, seeds: Option[DataFrame]
                       ): (Seq[DataFrame], DataFrame, DataFrame) = {
    val base = withLevels(corpus, maxLevel).localCheckpoint()
    // one edge-table read for the whole walk: every step filters one
    // layer out of `edges`, and without materialization each of the
    // ~(maxLevel·hopsUpper + hopsZero) step jobs re-reads the persisted
    // edge parquet (a full index scan per hop at any scale)
    val e = edges.localCheckpoint()
    val entry = base.orderBy(col("lvl").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id").as("node"))
    // every cursor state lives on the driver as a local relation (see
    // localFrontier — frontier is serving-batch × beam rows at any
    // scale): lineage stays constant per step with no per-state
    // checkpoint job, and each hop's broadcast builds job-free.
    var cur = localFrontier(queries.select(col("query_id"), col("qv"))
      .crossJoin(broadcast(entry)))
    for (l <- maxLevel to 1 by -1; _ <- 1 to hopsUpper)
      cur = step(cur, e.filter(col("layer") === l), base, 1)
    cur = seeds.fold(cur)(sd => localFrontier(cur.unionByName(sd)
      .dropDuplicates("query_id", "node")))
    val e0 = e.filter(col("layer") === 0)
    val states = scala.collection.mutable.ArrayBuffer(cur)
    for (_ <- 1 to hopsZero) {
      cur = step(cur, e0, base, beam); states += cur
    }
    (states.toSeq, e, base)
  }

  /** Top-k over the union of the visited cursors' layer-0
    * neighborhoods: (query_id, vec_id, score, rnk). */
  def resultsFromVisited(vis: Seq[DataFrame], edges: DataFrame,
                         corpus: DataFrame, k: Int): DataFrame = {
    val e0 = edges.filter(col("layer") === 0).select(col("src"), col("dst"))
    // the visited set is (hops × frontier)-sized — localize it so the
    // neighborhood join's broadcast builds job-free (see Dist.localize)
    val v = graft.Dist.localize(
      vis.reduce(_ unionAll _).dropDuplicates("query_id", "node"))
    val cands = v.select(col("query_id"), col("qv"), col("node").as("cand"))
      .unionAll(e0.join(broadcast(v), col("node") === col("src"))
        .select(col("query_id"), col("qv"), col("dst").as("cand")))
      .dropDuplicates("query_id", "cand")
    val scored = corpus.select(col("vec_id").as("cand"), col("v"))
      .join(broadcast(cands), "cand")
      .select(col("query_id"), col("cand").as("vec_id"),
        round(Vec.cosine(col("qv"), col("v")), 6).as("score"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("score").desc, col("vec_id").asc), k)
      .select("query_id", "vec_id", "score", "rnk")
  }
}
