package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: span durations of the calls into
  * each engine module, and listener counters per operation of the
  * window's traced blocks.
  * A layer a workload does not exercise reports 0.
  */
object Layers {

  def metrics(
      w: Workload,
      t: Tracer,
      ops: Int,
      intervals: Seq[(Long, Long)],
      cores: Int): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val c = t.countersIn(intervals)
    val wallS = intervals.map { case (a, b) => b - a }.sum / 1000.0
    val n = ops.max(1).toDouble
    def med(span: String) = { val d = t.durationsMs(span); if (d.isEmpty) 0.0 else Util.median(d) }
    m("catalyst.analysis_ms") = (c.analysisMs / n, "ms")
    m("catalyst.optimizer_ms") = (c.optimizerMs / n, "ms")
    m("catalyst.planning_ms") = (c.planningMs / n, "ms")
    m("scheduler.jobs_per_query") = (c.jobs / n, "count")
    m("scheduler.stages_per_query") = (c.stages / n, "count")
    m("scheduler.tasks_per_query") = (c.tasks / n, "count")
    m("exec.task_cpu_ms") = (c.cpuNs / 1e6 / n, "ms")
    m("exec.task_run_ms") = (c.runMs / n, "ms")
    m("exec.gc_ms") = (c.gcMs / n, "ms")
    m("exec.busy_frac") = (if (wallS > 0) c.runMs / 1000.0 / (wallS * cores) else 0.0, "ratio")
    m("shuffle.write_bytes") = (c.shuffleWrite / n, "B")
    m("shuffle.read_bytes") = (c.shuffleRead / n, "B")
    m("shuffle.spill_bytes") = (c.spill / n, "B")
    m("shuffle.fetch_wait_ms") = (c.fetchWaitMs / n, "ms")
    m("scan.files_per_query") = (c.scanFiles / n, "count")
    val results = w.resultRows + c.recordsWritten
    m("scan.rows_read_per_result") = (if (results > 0) c.scanRows.toDouble / results else 0.0, "ratio")
    m("rag.search_company_ms") = (med("rag.search_company"), "ms")
    m("rag.fallback_frac") = (w.layerExtra.getOrElse("rag.fallback_frac", 0.0), "ratio")
    m("rag.rrf_fuse_ms") = (med("rag.rrf_fuse"), "ms")
    m("orbit.payload_lookup_ms") = (med("orbit.payload_lookup"), "ms")
    m("similarity.ivf_topk_ms") = (med("similarity.ivf_topk"), "ms")
    m("similarity.brute_topk_ms") = (med("similarity.brute_topk"), "ms")
    m("similarity.fit_centroids_s") = (med("similarity.fit_centroids") / 1000, "s")
    m("textanalysis.bm25_postings_ms") = (med("textanalysis.bm25_postings"), "ms")
    m("corpus.funnel_s") = (med("corpus.funnel") / 1000, "s")
    Seq("corpus.docs_in", "corpus.docs_out", "corpus.near_dup_removed").foreach { k =>
      m(k) = (w.layerExtra.getOrElse(k, 0.0), "count")
    }
    m("dedup.bloom_incremental_ms") = (med("dedup.bloom_incremental"), "ms")
    m("payload.assemble_write_s") = (med("payload.assemble_write") / 1000, "s")
    m("relational.change_detection_ms") = (med("relational.change_detection"), "ms")
    m("streams.merge_batch_ms") = (med("streams.merge_batch"), "ms")
    m("streams.changed_frac") = (w.layerExtra.getOrElse("streams.changed_frac", 0.0), "ratio")
    m("io.write_postings_s") = (med("io.write_postings") / 1000, "s")
    m("io.write_ivf_index_s") = (med("io.write_ivf_index") / 1000, "s")
    m("io.upsert_postings_ms") = (med("io.upsert_postings"), "ms")
    m("io.delete_postings_ms") = (med("io.delete_postings"), "ms")
    m("io.upsert_ivf_ms") = (med("io.upsert_ivf"), "ms")
    m("io.compact_postings_ms") = (med("io.compact_postings"), "ms")
    m("io.read_ivf_index_ms") = (med("io.read_ivf_index"), "ms")
    m("io.live_upsert_segments") = (w.layerExtra.getOrElse("io.live_upsert_segments", 0.0), "count")
    m("io.bytes_written") = (c.bytesWritten / n, "B")
    m("io.files_written") = (c.filesWritten / n, "count")
    val deltaBytes = w.layerExtra.getOrElse("io.delta_bytes", 0.0)
    val deltaWritten = t.countersUnder(_ == "streams.merge_batch").bytesWritten
    m("io.bytes_written_per_delta_byte") = (if (deltaBytes > 0) deltaWritten / deltaBytes else 0.0, "ratio")
    m
  }
}
