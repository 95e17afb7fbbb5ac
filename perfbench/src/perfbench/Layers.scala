package perfbench

import org.json4s._

/** Per-layer report of the traced phase: Spark-boundary totals over every
  * span the phase recorded, the same counters summed per span group
  * (inventory module or `PropertyGraph` method), and the workload's own
  * per-call metrics.
  */
object Layers {
  @volatile var tracedFromMs: Long = Long.MaxValue

  private def stats(labels: Seq[String]): Seq[LayerStats] =
    labels.flatMap(Trace.listener.byLabel.get)

  def sum(labels: Seq[String])(f: LayerStats => Long): Long = stats(labels).map(f).sum

  private def boundary(spans: Seq[Span], cores: Int): Seq[(String, Double)] = {
    val labels = spans.map(_.label).distinct
    val s = stats(labels)
    def tot(f: LayerStats => Long) = s.map(f).sum.toDouble
    val wallMs = spans.map(sp => sp.t1Ms - sp.t0Ms).sum.toDouble
    val idleMs = labels.map(l => Trace.idleMs(l, spans.filter(_.label == l))).sum
    val tagger = Trace.tagger
    Seq(
      "spark.jobs" -> tot(_.jobs),
      "spark.stages" -> tot(_.stages),
      "spark.tasks" -> tot(_.tasks),
      "spark.executor_run_s" -> tot(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> tot(_.cpuNs) / 1e9,
      "spark.gc_s" -> tot(_.gcMs) / 1e3,
      "spark.input_bytes" -> tot(_.inputBytes),
      "spark.shuffle_write_bytes" -> tot(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> tot(_.shuffleRead),
      "spark.shuffle_fetch_wait_s" -> tot(_.fetchWaitMs) / 1e3,
      "spark.spill_bytes" -> tot(_.spillBytes),
      "spark.result_bytes" -> tot(_.resultBytes),
      "spark.task_skew" -> (if (s.isEmpty) 0.0 else s.map(_.taskSkew).max),
      "spark.slot_util" -> (if (wallMs == 0) 0.0 else tot(_.taskMs) / (wallMs * cores)),
      "driver.idle_s" -> idleMs / 1e3,
      "log.warn_count" -> labels.map(l => tagger.warns(l)).sum.toDouble,
      "log.unpartitioned_window_warns" -> labels.map(l => tagger.windowWarns(l)).sum.toDouble)
  }

  private def obj(kv: Seq[(String, Double)]): JValue =
    JObject(kv.map { case (k, v) => k -> JDouble(v) }: _*)

  def report(wl: Workload, traced: Seq[OpRecord]): JValue = {
    val cores = org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
    val spans = Trace.spans.filter(s => s.t0Ms >= tracedFromMs && !s.label.startsWith("check:")).toSeq
    val byGroup = spans.groupBy(sp => sp.label.split('.').dropRight(1).mkString("."))
    JObject(
      "totals" -> obj(boundary(spans, cores) ++ Seq(
        "driver.construct_s" -> traced.map(_.constructS).sum) ++ wl.layerMetrics(traced)),
      "by_group" -> JObject(byGroup.toSeq.sortBy(_._1).map { case (g, sps) =>
        g -> obj(boundary(sps, cores)) }: _*),
      "setup_by_span" -> obj(Trace.spans.filter(_.t0Ms < tracedFromMs).toSeq.groupBy(_.label)
        .toSeq.sortBy(_._1).map { case (l, sps) => l -> sps.map(_.seconds).sum }),
      "by_span" -> JObject(spans.groupBy(_.label).toSeq.sortBy(_._1).map { case (l, sps) =>
        l -> obj(Seq("calls" -> sps.size.toDouble, "s" -> sps.map(_.seconds).sum) ++
          boundary(sps, cores)) }: _*))
  }
}
