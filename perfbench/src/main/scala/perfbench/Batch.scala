package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{IndexStore, IvfIndex}
import graft.queries.VectorQueries

/** Timed samples and failures of one named operation. */
final class Op(val name: String) {
  val walls = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var error: String = ""

  def fail(e: Throwable): Unit = {
    failed += 1
    if (error.isEmpty) error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      .take(300)
  }

  def toJson: String = Json.obj(Seq(
    "name" -> Json.str(name), "attempted" -> attempted.toString,
    "failed" -> failed.toString, "error" -> Json.str(error),
    "walls_s" -> walls.map(Json.num).mkString("[", ",", "]")))
}

/** Registry rows run through graft's public registry:
  * `SparkEntry.queries(name)(spark, dir)`, then the physical plan, then
  * a `noop` write (every output column is computed, nothing is kept). */
final class RowRunner(spark: SparkSession, dir: String, trace: Trace) {

  /** One timed execution; returns the wall in seconds. */
  def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Double =
    trace(s"op:$name") {
      val t0 = System.nanoTime()
      val df = trace("queries.build")(fn(spark, dir))
      trace("plan")(df.queryExecution.executedPlan)
      trace("exec")(df.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }

  /** Drop what an earlier row persisted, so each row meets a clean block
    * manager (several operators localCheckpoint intermediates). */
  def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One pass over `rows`, each row's wall added to its [[Op]]. */
  def pass(rows: Seq[String], ops: Map[String, Op]): Unit =
    rows.foreach { r =>
      val op = ops(r)
      hygiene()
      op.attempted += 1
      try op.walls += runOnce(r, SparkEntry.queries(r))
      catch { case e: Throwable => op.fail(e) }
    }

  /** Untimed: write each row's result as one parquet file under `out`
    * for the oracle comparison. Rows run concurrently, `threads` at a
    * time, since each is a separate Spark job. */
  def writeOutputs(rows: Seq[String], out: String, threads: Int): Map[String, String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = rows.map { r =>
        r -> pool.submit[String](() =>
          try {
            SparkEntry.queries(r)(spark, dir).repartition(1)
              .write.mode("overwrite").parquet(s"$out/$r")
            ""
          } catch { case e: Throwable =>
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) })
      }
      futures.map { case (r, f) => r -> f.get() }.toMap
    } finally pool.shutdown()
  }
}

/** The persisted-IVF maintenance sequence: build, seed-drawn upserts, a
  * delete, merge-on-read queries, compact, the same queries again. */
final class IndexSequence(spark: SparkSession, corpus: DataFrame,
                          centroids: DataFrame, root: String, seed: Long,
                          trace: Trace) {
  import spark.implicits._

  val K = 5
  val Nprobe = 4
  val UpsertBatches = 2
  val UpsertRows = 200
  val DeleteRows = 100
  val Queries = 32

  private val base: Array[(Long, Array[Float])] =
    corpus.select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  private val dim = base.head._2.length
  private val maxId = base.map(_._1).max
  private val rng = new scala.util.Random(seed)

  private def jitter(v: Array[Float]): Array[Float] =
    v.map(x => (x + rng.nextGaussian() * 0.05).toFloat)

  // Seed-drawn inputs: upserts overwrite existing ids (3 in 4) or add
  // new ones; the delete batch removes live ids; queries are perturbed
  // corpus vectors.
  private val upserts: Seq[Seq[(Long, Array[Float], Int)]] =
    (1 to UpsertBatches).map { ver =>
      (0 until UpsertRows).map { i =>
        val id = if (rng.nextInt(4) < 3) base(rng.nextInt(base.length))._1
                 else maxId + ver * UpsertRows + i + 1
        (id, jitter(base(rng.nextInt(base.length))._2), ver)
      }
    }
  private val liveIds: Set[Long] = base.map(_._1).toSet ++ upserts.flatten.map(_._1)
  private val deletes: Seq[Long] =
    rng.shuffle(liveIds.toSeq.sorted).take(DeleteRows)
  private val expectedLive = liveIds.size - deletes.size
  private val queries: Seq[(Long, Array[Float])] =
    (0 until Queries).map(i => (i.toLong, jitter(base(rng.nextInt(base.length))._2)))

  private def diskBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new java.io.File(p))
  }

  private def time(name: String)(body: => Unit): Double = trace(name) {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def ask(path: String): Seq[(Long, Long, Double, Int)] = {
    val q = queries.toDF("query_id", "qv")
    IndexStore.query(spark, path, q, K, Nprobe)
      .select("query_id", "vec_id", "score", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
  }

  def run(): IndexSequence.Result = {
    val path = s"$root/index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val disk = ArrayBuffer.empty[Long]
    val build = time("indexstore.build")(IndexStore.build(corpus, centroids, path))
    disk += diskBytes(path)
    val upsert = upserts.map { b =>
      val df = b.toDF("vec_id", "v", "version")
      val s = time("indexstore.upsert")(IndexStore.upsert(spark, path, df))
      disk += diskBytes(path); s
    }.sum
    val delete = time("indexstore.delete")(IndexStore.delete(
      spark, path, deletes.toDF("vec_id"), UpsertBatches + 1))
    disk += diskBytes(path)
    var before: Seq[(Long, Long, Double, Int)] = Nil
    val q1 = time("indexstore.query") { before = ask(path) }
    val compact = time("indexstore.compact")(IndexStore.compact(spark, path))
    disk += diskBytes(path)
    var after: Seq[(Long, Long, Double, Int)] = Nil
    val q2 = time("indexstore.query") { after = ask(path) }

    // output checks (untimed)
    val problems = ArrayBuffer.empty[String]
    if (before != after) problems += "query results differ before and after compact"
    if (after.size != Queries * K)
      problems += s"expected ${Queries * K} result rows, got ${after.size}"
    val dead = deletes.toSet
    if (after.exists(r => dead(r._2))) problems += "a deleted vector was returned"
    val live = IndexStore.liveAssignments(spark, path).count()
    if (live != expectedLive) problems += s"live vectors $live != expected $expectedLive"
    val amp = disk.last.toDouble / (live * dim * 4L)
    IndexSequence.Result(build, upsert, delete, compact, q1 + q2, disk.toSeq, amp,
      problems.toSeq)
  }
}

object IndexSequence {
  /** Step walls (s), disk bytes after each write, disk bytes per live
    * vector byte at the end, and failed output checks. */
  final case class Result(build: Double, upsert: Double, delete: Double,
                          compact: Double, query: Double,
                          diskAfterWrites: Seq[Long], spaceAmp: Double,
                          problems: Seq[String])

  def centroids(corpus: DataFrame, artifacts: String): DataFrame =
    IvfIndex.fitOrLoadCentroids(corpus, 16,
      s"$artifacts/perfbench_index_centroids")

  def corpus(spark: SparkSession, dir: String): DataFrame =
    VectorQueries.corpusVecs(spark, dir).select("vec_id", "v")
}
