package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.ingest.ThreatIntel
import graft.model.PropertyGraph
import graft.sources.GraphSnapshots

/** The reference's own surface as one client session: seeded threat-intel
  * ingests, updates and cascade deletes between Mongo-filter searches,
  * neighbor lookups, k-hop closures and ego-graph exports, with a snapshot
  * save + reload every few writes (`<work>/stream.json`, made by
  * `propgraph.py`). Every read's rows are collected in an untimed check
  * step for the reference model; every delete and reload is followed by
  * an untimed cascade check (edges whose endpoint is not a vertex).
  * [[rewind]] reloads the post-setup snapshot and restarts the stream, so
  * a second phase replays the first one's ops on the same graph.
  */
final class PropGraphSession(spark: SparkSession, work: Path) extends Workload {
  import Harness._
  import spark.implicits._

  private val PG = "model.PropertyGraph."
  private val stream = JsonMethods.parse(Files.readString(work.resolve("stream.json")))
  private def strings(v: JValue): Seq[String] =
    v.asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
  private def str(v: JValue): String = v.asInstanceOf[JString].s
  private val base = strings(stream \ "base")
  private val input = (stream \ "ops").asInstanceOf[JArray].arr.toVector
  private val cycle = (stream \ "cycle").asInstanceOf[JInt].num.toInt
  private val snapRoot = work.resolve("snapshots")
  private var g: PropertyGraph = _
  private var next = 0
  private var snapshots = 0
  private val baseBytes = base.map(_.getBytes("UTF-8").length.toLong).sum
  private var userBytes = baseBytes
  private var snapBytes = 0L
  private val baseSnap = snapRoot.resolve("base")

  /** `xxhash64(label, key)`, the vertex id `insertVertices` stamps. */
  private def vid(root: JValue): Long = {
    val Seq(label, key) = strings(root)
    XxHash64Function.hash(UTF8String.fromString(key), StringType,
      XxHash64Function.hash(UTF8String.fromString(label), StringType, 42L))
  }

  private def planNodes(df: DataFrame): Int = df.queryExecution.logical.collect { case p => p }.size

  private def pairs(df: DataFrame): JValue =
    JArray(df.select("label", "key").collect().toList.map(r =>
      JArray(List(JString(r.getString(0)), JString(r.getString(1))))))

  private def dangling(h: PropertyGraph): JValue = {
    val ids = h.vertices.select("id")
    JObject("dangling" -> JInt(
      h.edges.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .unionByName(h.edges.join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
        .count()))
  }

  private def ingest(h: PropertyGraph, docs: Seq[String], step: Step): PropertyGraph = {
    val tg = step.build("ingest.ThreatIntel.fromJson")(ThreatIntel.fromJson(spark, docs))(_ => ())
    val g1 = step.build(PG + "insertVertices")(
      h.insertVertices(tg.vertices.select("label", "key", "props")))(x => noop(x.vertices))
    step.build(PG + "insertEdges")(g1.insertEdges(tg.edges))(x => noop(x.edges))
  }

  /** Times the spans of one op and keeps the check steps out of them; a
    * warm-up op (`checked = false`) skips its checks.
    */
  private final class Step(prefix: String, checked: Boolean = true) {
    var seconds, construct = 0.0
    def build[A](label: String)(make: => A)(materialize: A => Unit): A = {
      val (a, s) = Trace.span(prefix + label) {
        val (a, c) = timed(make)
        construct += c
        materialize(a)
        a
      }
      seconds += s
      a
    }
    def check(kind: String)(body: => JValue): JValue =
      if (checked) Trace.span(s"check:$kind")(body)._1 else JNull
  }

  private def run(op: JValue, phase: String, prefix: String = ""): OpRecord = {
    val kind = str(op \ "kind")
    val nodes = planNodes(g.vertices) + planNodes(g.edges)
    // the last phase of a traced run replays ops already checked in the
    // first one, from the same state
    val step = new Step(prefix, phase != "warm" && phase != "untraced_after")
    try {
      val (cls, result): (String, JValue) = kind match {
        case "search" =>
          val df = step.build(PG + "searchVertices")(g.searchVertices(str(op \ "filter")))(noop)
          "read" -> step.check(kind)(JArray(df.select("label", "key", "props").collect().toList.map {
            r => JArray(List(JString(r.getString(0)), JString(r.getString(1)),
              JArray(r.getMap[String, String](2).toList.sorted.map { case (k, v) =>
                JArray(List(JString(k), JString(v))) })))
          }))
        case "neighbors" =>
          val df = step.build(PG + "neighbors")(g.neighbors(vid(op \ "root")))(noop)
          "read" -> step.check(kind)(pairs(df))
        case "khop" =>
          val depth = (op \ "depth").asInstanceOf[JInt].num.toInt
          val ids = step.build(PG + "kHop")(g.kHop(vid(op \ "root"), depth))(noop)
          "read" -> step.check(kind) {
            // one pass over the closure: every distinct id, with its
            // (label, key) when it is still a vertex
            val rows = ids.select("id").distinct().join(g.vertices, Seq("id"), "left")
              .select("label", "key").collect()
            JObject(
              "ids" -> JInt(rows.length),
              "vertices" -> JArray(rows.filter(!_.isNullAt(0)).toList.map(r =>
                JArray(List(JString(r.getString(0)), JString(r.getString(1)))))))
          }
        case "graph_json" =>
          val depth = (op \ "depth").asInstanceOf[JInt].num.toInt
          val json = step.build(PG + "buildGraphJson")(g.buildGraphJson(vid(op \ "root"), depth))(_ => ())
          "read" -> step.check(kind) {
            val doc = JsonMethods.parse(json) \ "graph"
            val vs = (doc \ "vertices").asInstanceOf[JArray].arr
            val byId = vs.map(v => (v \ "id") -> JArray(List(v \ "label", v \ "key"))).toMap
            JObject(
              "vertices" -> JArray(vs.map(v => JArray(List(v \ "label", v \ "key")))),
              "edges" -> JArray((doc \ "edges").asInstanceOf[JArray].arr.map(e =>
                JArray(List(byId.getOrElse(e \ "src", e \ "src"),
                  byId.getOrElse(e \ "dst", e \ "dst"), e \ "label")))))
          }
        case "ingest" =>
          val docs = strings(op \ "docs")
          g = ingest(g, docs, step)
          userBytes += docs.map(_.getBytes("UTF-8").length.toLong).sum
          "write" -> JObject("reports" -> JInt(docs.size))
        case "update" =>
          val patches = (op \ "patches").asInstanceOf[JArray].arr.map { p =>
            val List(l, k, props) = p.asInstanceOf[JArray].arr
            (vid(JArray(List(l, k))), props.asInstanceOf[JObject].obj.map {
              case (pk, pv) => pk -> str(pv) }.toMap)
          }.toDF("id", "props")
          g = step.build(PG + "updateVertices")(g.updateVertices(patches))(x => noop(x.vertices))
          "write" -> JNull
        case "delete" =>
          g = step.build(PG + "deleteWhere")(g.deleteWhere(str(op \ "filter"))) { x =>
            noop(x.vertices); noop(x.edges)
          }
          "write" -> step.check(kind)(dangling(g))
        case "snapshot" =>
          snapshots += 1
          val dir = snapRoot.resolve(s"s${snapshots % 2}").toString
          step.build("sources.GraphSnapshots.save")(GraphSnapshots.save(g, dir))(_ => ())
          g = step.build("sources.GraphSnapshots.load")(GraphSnapshots.load(spark, dir)) { x =>
            noop(x.vertices); noop(x.edges)
          }
          snapBytes = dirBytes(snapRoot.resolve(s"s${snapshots % 2}"))
          "write" -> step.check(kind)(dangling(g))
      }
      OpRecord(next, kind, kind, cls, phase, step.seconds, step.construct, true, null, result, nodes)
    } catch {
      case e: Throwable =>
        OpRecord(next, kind, kind, if (Set("search", "neighbors", "khop", "graph_json")(kind))
          "read" else "write", phase, step.seconds, step.construct, false, message(e), JNull, nodes)
    }
  }

  def setup(): Seq[(String, Double)] = {
    val step = new Step("setup:")
    g = ingest(PropertyGraph.empty(spark), base, step)
    step.build("sources.GraphSnapshots.save")(GraphSnapshots.save(g, baseSnap.toString))(_ => ())
    g = step.build("sources.GraphSnapshots.load")(GraphSnapshots.load(spark, baseSnap.toString)) { x =>
      noop(x.vertices); noop(x.edges)
    }
    snapBytes = dirBytes(baseSnap)
    // JIT warm pass: every op kind the base load did not run, on the base
    // graph; results and the changed graph are discarded
    val root = JArray(List(JString("domain"), JString(base.headOption.map(d =>
      JsonMethods.parse(d).asInstanceOf[JObject].obj.head._1).getOrElse(""))))
    val warmOps = Seq[JValue](
      JObject("kind" -> JString("search"), "filter" -> JString("""{"label": "ip"}""")),
      JObject("kind" -> JString("neighbors"), "root" -> root),
      JObject("kind" -> JString("khop"), "root" -> root, "depth" -> JInt(2)),
      JObject("kind" -> JString("graph_json"), "root" -> root, "depth" -> JInt(2)),
      JObject("kind" -> JString("update"), "patches" -> JArray(List(JArray(List(
        root.arr.head, root.arr(1), JObject("status" -> JString("warm"))))))),
      JObject("kind" -> JString("delete"), "filter" -> JString("""{"label": "owner", "key": "none"}""")))
    val kept = g
    val (warm, warmS) = timed(warmOps.map(run(_, "warm", "warm:")))
    g = kept
    warm.filterNot(_.ok).foreach(r => System.err.println(s"[perfbench] warm ${r.op} failed: ${r.error}"))
    Seq("propgraph.base_load_s" -> step.seconds, "warm_pass_s" -> warmS)
  }

  def timedPhase(seconds: Double, phase: String, ops: mutable.Buffer[OpRecord], count: Int): Unit = {
    val t0 = System.nanoTime()
    // whole cycles, so every run times the same mix of op kinds
    def more = if (count >= 0) next < count
      else (System.nanoTime() - t0) / 1e9 < seconds || next % cycle != 0
    while (more) {
      if (next >= input.size) throw new IllegalStateException(
        s"op stream exhausted after ${input.size} ops, before the $phase phase ended")
      ops += run(input(next), phase)
      next += 1
    }
  }

  override def rewind(): Unit = {
    g = GraphSnapshots.load(spark, baseSnap.toString)
    next = 0
    snapshots = 0
    userBytes = baseBytes
    snapBytes = dirBytes(baseSnap)
  }

  private var cascadeAtEnd: JValue = JNull
  override def finish(): Unit = cascadeAtEnd = Trace.span("check:end")(dangling(g))._1

  override def layerMetrics(traced: Seq[OpRecord]): Seq[(String, Double)] = {
    val spans = Trace.spans.filter(s => s.t0Ms >= Layers.tracedFromMs)
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    def med(label: String) = median(spans.filter(_.label == label).map(_.seconds).toSeq)
    val khopCalls = spans.count(_.label == PG + "kHop")
    val ingests = traced.filter(r => r.op == "ingest" && r.ok)
    val reports = ingests.map(r => (r.result \ "reports").asInstanceOf[JInt].num.toDouble).sum
    val rowsOut = traced.filter(r => r.cls == "read" && r.ok).map(r => r.result match {
      case JArray(xs) => xs.size.toLong
      case o: JObject => (o \ "vertices").asInstanceOf[JArray].arr.size.toLong +
        (o \ "edges" match { case JArray(es) => es.size.toLong; case _ => 0L })
      case _ => 0L
    }).sum
    val readLabels = Seq("searchVertices", "neighbors", "kHop", "buildGraphJson").map(PG + _)
    Seq(
      "ingest.ThreatIntel.fromJson_s" -> med("ingest.ThreatIntel.fromJson"),
      "ingest.ThreatIntel.reports_per_s" -> reports / math.max(ingests.map(_.seconds).sum, 1e-9),
      "sources.GraphSnapshots.save_s" -> med("sources.GraphSnapshots.save"),
      "sources.GraphSnapshots.load_s" -> med("sources.GraphSnapshots.load"),
      "sources.GraphSnapshots.bytes_per_user_byte" -> snapBytes.toDouble / userBytes,
      "ops.Traverse.khop_jobs" ->
        Layers.sum(Seq(PG + "kHop"))(_.jobs).toDouble / math.max(khopCalls, 1),
      "model.PropertyGraph.plan_nodes" -> median(traced.map(_.planNodes.toDouble)),
      "rows_read_per_row_out" -> Layers.sum(readLabels)(_.inputRecords).toDouble / math.max(rowsOut, 1L)
    ) ++ Seq("insertVertices", "insertEdges", "updateVertices", "deleteWhere",
      "searchVertices", "neighbors", "kHop", "buildGraphJson").map(m => s"$PG${m}_s" -> med(PG + m))
  }

  override def extra: JValue = JObject(
    "user_bytes" -> JInt(userBytes), "cascade_at_end" -> cascadeAtEnd)
}
