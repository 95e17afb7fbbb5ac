package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One timed client op and its untimed check material. */
final case class OpRecord(
    i: Int, op: String, group: String, cls: String, phase: String,
    seconds: Double, constructS: Double, ok: Boolean, error: String,
    result: JValue, planNodes: Int)

/** JVM side of the benchmark: one closed-loop client thread issues the
  * workload's ops against a `local[N]` session, materializing every result
  * with `write.format("noop")` before the next op, and writes what it saw
  * to `<work>/result.json` for `run.py` to check and summarize.
  *
  * Usage: Harness --workload <name> --seconds <s> --trace <0|1>
  *                 --data <table dir> --work <run dir> --cpus <n>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val cpus = a.getOrElse("cpus", "4")
    val traced = a.getOrElse("trace", "0") == "1"
    val (spark, sessionS) = timed {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    if (traced) Trace.install(spark.sparkContext)
    val out = mutable.LinkedHashMap[String, JValue](
      "setup" -> JObject("spark.session_start_s" -> JDouble(sessionS)))
    val wl: Workload = a("workload") match {
      case "query_sample" => new QuerySample(spark, a("data"), work)
      case "propgraph_session" => new PropGraphSession(spark, work)
      case "selftest_plan" => new PlanSelfTest(spark)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setup = wl.setup()
    out("setup") = out("setup").merge(JObject(setup.map { case (k, v) => k -> JDouble(v) }: _*))
    val seconds = a("seconds").toDouble
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    if (traced) {
      // untraced, traced, untraced again: each phase replays the first
      // one's ops from the same state, so the phases differ only by
      // tracing. The first phase also finishes the JIT warm-up (the
      // session's first cycle runs a third slower than its replays), so
      // the overhead compares the last two
      Trace.pause()
      wl.timedPhase(seconds, "untraced", ops, -1)
      val n = ops.size
      wl.rewind()
      Layers.tracedFromMs = System.currentTimeMillis()
      Trace.resume()
      wl.timedPhase(seconds, "traced", ops, n)
      Trace.pause()
      wl.rewind()
      wl.timedPhase(seconds, "untraced_after", ops, n)
      out("layers") = Layers.report(wl, ops.filter(_.phase == "traced").toSeq)
      out("unlabelled_jobs") = JInt(Trace.listener.unlabelled.size)
    } else wl.timedPhase(seconds, "timed", ops, -1)
    wl.finish()
    out("ops") = JArray(ops.map(toJson).toList)
    out("extra") = wl.extra
    out("vmhwm_kb") = JInt(vmHwmKb())
    Files.writeString(work.resolve("result.json"),
      JsonMethods.compact(JsonMethods.render(JObject(out.toList))))
    spark.stop()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def toJson(r: OpRecord): JValue = JObject(
    "i" -> JInt(r.i), "op" -> JString(r.op), "group" -> JString(r.group),
    "class" -> JString(r.cls), "phase" -> JString(r.phase),
    "s" -> JDouble(r.seconds), "construct_s" -> JDouble(r.constructS),
    "ok" -> JBool(r.ok), "error" -> (if (r.error == null) JNull else JString(r.error)),
    "result" -> r.result, "plan_nodes" -> JInt(r.planNodes))

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
}

/** A workload: untimed-from-the-client's-view set-up, then timed ops. */
trait Workload {
  /** Set-up steps by per-layer metric name, in seconds. */
  def setup(): Seq[(String, Double)]
  /** Issue ops until `seconds` of timed wall have passed or, when `count`
    * is not negative, exactly `count` ops. */
  def timedPhase(seconds: Double, phase: String, ops: mutable.Buffer[OpRecord], count: Int): Unit
  /** Return to the state right after [[setup]]. */
  def rewind(): Unit = ()
  /** Workload-specific per-layer metrics of the traced ops. */
  def layerMetrics(traced: Seq[OpRecord]): Seq[(String, Double)] = Seq.empty
  def finish(): Unit = ()
  def extra: JValue = JObject()
}

/** A sample of inventory keys from every query module (named
  * `<module>.<key>` in `<work>/order.json`, in the seed's order) over the
  * generated tables. The set-up builds the shared caches the keys read,
  * then runs the JIT warm pass, which also writes each key's rows for the
  * output check.
  */
final class QuerySample(spark: SparkSession, data: String, work: Path) extends Workload {
  import Harness._
  private val order: Seq[String] =
    JsonMethods.parse(Files.readString(work.resolve("order.json")))
      .asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
  private val modules = Map(
    "QueriesGraph" -> graft.QueriesGraph.defs, "QueriesGraphX" -> graft.QueriesGraphX.defs,
    "QueriesLlm" -> graft.QueriesLlm.defs, "QueriesRelational" -> graft.QueriesRelational.defs,
    "QueriesWindows" -> graft.QueriesWindows.defs)
  private def split(label: String): (String, String) = {
    val Array(m, k) = label.split('.')
    (m, k)
  }
  private def query(label: String): graft.QueryDef = {
    val (m, k) = split(label)
    modules(m)(k)
  }
  private val outDir = work.resolve("out")
  /** Each key is timed at least this often, so its median is steadier
    * than a single run. */
  private val MinPasses = 2

  def setup(): Seq[(String, Double)] = {
    val steps = Seq[(String, () => Unit)](
      "model.Tables.warm" -> (() => graft.model.Tables.warm(spark, data)),
      "model.DerivedGraph.warm" -> (() => graft.model.DerivedGraph.warm(spark, data)),
      "ops.GraphAnalytics.warm" -> (() => graft.ops.GraphAnalytics.warm(spark, data)),
      "ops.llm.Similarity.warm" -> (() => graft.ops.llm.Similarity.warm(spark, data)),
      "QueriesGraph.warmPostings" -> (() => graft.QueriesGraph.warmPostings(spark, data)))
    val builds = steps.map { case (name, f) => s"${name}_s" -> Trace.span(name)(f())._2 }
    val (_, warmS) = Trace.span("warm_pass") {
      order.foreach { l =>
        Trace.span(s"warm:$l") {
          query(l).fn(spark, data).write.mode("overwrite").parquet(outDir.resolve(s"$l.parquet").toString)
        }
      }
    }
    builds :+ ("warm_pass_s" -> warmS)
  }

  def timedPhase(seconds: Double, phase: String, ops: mutable.Buffer[OpRecord], count: Int): Unit = {
    val t0 = System.nanoTime()
    val n0 = ops.size
    def more = if (count >= 0) ops.size - n0 < count
      else ops.size - n0 < MinPasses * order.size || (System.nanoTime() - t0) / 1e9 < seconds
    // whole passes: every run times every key, so its percentiles do not
    // depend on where the clock stopped inside the seeded order
    while (more) order.foreach { l =>
      var construct = 0.0
      var err: String = null
      val (_, s) = Trace.span(l) {
        try {
          val (df, c) = timed(query(l).fn(spark, data))
          construct = c
          noop(df)
        } catch { case e: Throwable => err = message(e) }
      }
      ops += OpRecord(ops.size, l, split(l)._1, "query", phase, s, construct,
        err == null, err, JNull, 0)
    }
  }

  override def layerMetrics(traced: Seq[OpRecord]): Seq[(String, Double)] = {
    val rowsOut = traced.map(r => graft.model.Tables.rowCount(spark, outDir.toString, r.op)).sum
    val rowsRead = Layers.sum(traced.map(_.op).distinct)(_.inputRecords)
    Seq("rows_read_per_row_out" -> rowsRead.toDouble / math.max(rowsOut, 1L))
  }

  override def extra: JValue = JObject(
    "oracle_sql" -> JObject(order.flatMap(l => query(l).oracle.map(l -> JString(_))): _*),
    "keys" -> JArray(order.map(JString(_)).toList))
}

/** Builds a plan the way a timed op does and reports whether the final
  * projection and sort survive into the executed noop-write plan — the
  * pruning a `count()` allows.
  */
final class PlanSelfTest(spark: SparkSession) extends Workload {
  private var plans: JValue = JNull
  def setup(): Seq[(String, Double)] = Seq.empty
  def timedPhase(seconds: Double, phase: String, ops: mutable.Buffer[OpRecord], count: Int): Unit = {
    if (plans != JNull) return
    var executed = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        executed = qe.executedPlan.toString
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = spark.range(1000).select(col("id"),
        regexp_replace(col("id").cast("string"), "1", "x").as("s"))
      .orderBy(col("s").desc)
    Harness.noop(df)
    org.apache.spark.PerfbenchShim.drain(spark.sparkContext)
    val noopPlan = executed
    val countPlan = df.groupBy().count().queryExecution.optimizedPlan.toString
    spark.listenerManager.unregister(listener)
    plans = JObject("noop" -> JString(noopPlan), "count" -> JString(countPlan))
    ops += OpRecord(0, "plan", "selftest", "query", phase, 0.0, 0.0, true, null, plans, 0)
  }
}
