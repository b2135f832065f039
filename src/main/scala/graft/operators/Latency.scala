package graft.operators

/** Per-query serving-latency capture (SURVEY §2.6 m1): the reference
  * records wall-clock latency_ms for EACH top-k query it serves and
  * summarizes with P50/P95/P99
  * (/root/reference/src/queries.py latency capture →
  * /root/reference/src/metrics.py:13-42). The distributed analogue of
  * the summary is Pcts.p50p95p99; this closes the loop
  * on the MEASUREMENT side: run the serving action once per query,
  * stamp each with its wall-clock milliseconds, and hand the result
  * to the percentile operator.
  *
  * This is a driver-side loop BY DESIGN: interactive serving is one
  * query per request, and what is being measured is exactly that
  * request path (the batch-analytics path is knnCosine/knnIvf over
  * the whole query table at once). The loop is bounded by the number
  * of MEASURED queries — a latency probe, not a corpus scan.
  */
object Latency {

  /** Run `serve` once per query id, returning (id, latency_ms) in
    * submission order. `serve` must force execution (e.g. end in a
    * count()/collect()) — timing a lazy plan would measure nothing. */
  def measure[K](queryIds: Seq[K], serve: K => Unit): Seq[(K, Double)] =
    queryIds.map { qid =>
      val t0 = System.nanoTime()
      serve(qid)
      (qid, (System.nanoTime() - t0) / 1e6)
    }
}
