package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.{Counters, WorkProfile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.gedcom.{CsvSink, GedLine, GedcomGraph, GedcomParser, GedcomPipeline,
  GraphOps, RecordAssembler}

/** The benchmark's JVM side: runs one workload's set-up and timed loop and
  * writes what it measured for `run.py` to check and reduce.
  *
  * Usage: perfbench.Harness <plan.tsv>
  *
  * The plan is `key<TAB>value` lines (see run.py). Outputs, in the plan's
  * `work` directory: `ops.jsonl` (one line per operation), `run.json`
  * (set-up times, peak block-manager bytes) and, when traced,
  * `spans.jsonl`. Every layer is timed from here, around calls into its
  * public functions; nothing inside the program is instrumented.
  */
object Harness {

  final class Plan(kv: Seq[(String, String)]) {
    def one(k: String): String =
      kv.collectFirst { case (`k`, v) => v }.getOrElse(sys.error(s"plan lacks $k"))
    def all(k: String): Seq[String] = kv.collect { case (`k`, v) => v }
  }

  /** One recorded span: a layer call inside operation `op`. */
  final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long)

  def main(args: Array[String]): Unit = {
    val src = scala.io.Source.fromFile(args(0), "UTF-8")
    val plan = try new Plan(src.getLines().filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); (l.take(i), l.drop(i + 1))
    }.toSeq) finally src.close()
    new Harness(plan).run()
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case other => json(other.toString)
  }
}

final class Harness(plan: Harness.Plan) {
  import Harness._

  private val workload = plan.one("workload")
  private val work = new File(plan.one("work"))
  private val seconds = plan.one("seconds").toDouble
  private val traced = plan.one("trace") == "1"
  private val cores = plan.one("cores").toInt
  private val setups = plan.one("setups").toInt

  private var spark: SparkSession = _
  private var profile: WorkProfile = _
  private var graph: GedcomGraph.Graph = _
  private val ops = new PrintWriter(new File(work, "ops.jsonl"), "UTF-8")
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = 0

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val open = mutable.Stack[Int]()

  /** Time `f` as span `name`, a child of the innermost open span, within
    * the current operation. */
  private def span[A](name: String)(f: => A): (A, Double) = {
    val id = { nextSpan += 1; nextSpan }
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = now()
    val a = try f finally open.pop()
    val t1 = now()
    if (traced) spans += Span(id, opId, name, parent, t0, t1)
    (a, secs(t0, t1))
  }
  private var nextSpan = 0

  private def emit(fields: collection.Map[String, Any]): Unit = {
    ops.println(json(fields)); ops.flush()
  }

  /** RDDs pinned by set-up, kept across operations. */
  private var keep = Set.empty[Int]

  /** Free what an operation left cached or pinned, and wait until it is
    * freed, so every operation starts from the same block-manager state.
    * (`Graph.release` frees the pinned rows without waiting.) */
  private def tidy(): Unit = {
    spark.catalog.clearCache()
    graft.Caches.release()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  // ------------------------------------------------------------- GEDCOM

  private def minParts: Int = spark.sparkContext.defaultParallelism * 2

  /** Layer probes over one GEDCOM file: the line scan alone, scan plus
    * `GedcomParser.parseLine`, and scan plus parse plus
    * `RecordAssembler.assemble`/`flatten`. Records spanning a split edge
    * are assembled in two pieces here; the counts use level-0 lines. */
  private def probeLayers(path: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val (lines, scanS) = span("parser.scan")(sc.textFile(path, minParts).count())
    val (_, parseS) = span("parser.tokenize") {
      sc.textFile(path, minParts).mapPartitions { it =>
        var j = 0L
        Iterator(it.count { s => j += 1; GedcomParser.parseLine(s, j).isDefined })
      }.sum()
    }
    val (records, assembleS) = span("assembler.assemble") {
      sc.textFile(path, minParts).mapPartitions { it =>
        var j = 0L
        val buf = mutable.ArrayBuffer.empty[GedLine]
        var n = 0L
        def flush(): Unit = if (buf.nonEmpty && buf.head.level == 0) {
          RecordAssembler.flatten(n, RecordAssembler.assemble(buf.iterator)); n += 1
        }
        it.foreach { s =>
          j += 1
          GedcomParser.parseLine(s, j).foreach { l =>
            if (l.level == 0) { flush(); buf.clear() }
            buf += l
          }
        }
        flush()
        Iterator(n)
      }.sum().toLong
    }
    Map("lines" -> lines, "scan_s" -> scanS,
      "tokenize_s" -> math.max(0.0, parseS - scanS),
      "records" -> records, "assemble_s" -> math.max(0.0, assembleS - parseS),
      "probe_s" -> assembleS)
  }

  /** One conversion, GEDCOM file to CSVs. Traced: the layer probes, then
    * `GedcomGraph.fromFile` and `CsvSink.write` as two spans (the two
    * calls `GedcomPipeline.run` makes); untraced: `GedcomPipeline.run`. */
  private def convert(path: String, out: String, pass: Int, record: Boolean,
      traceThis: Boolean): Unit = {
    opId += 1
    val bytes = new File(path).length()
    val fields = mutable.LinkedHashMap[String, Any](
      "op" -> opId, "pass" -> pass, "name" -> new File(path).getName,
      "module" -> "gedcom", "mb" -> bytes / 1e6, "out" -> out, "traced" -> traceThis)
    val c0 = profile.snapshot()
    try {
      if (traceThis) {
        val probe = probeLayers(path)
        fields ++= probe
        val cp = profile.snapshot()
        var cb = cp
        var (pinned, disk, buildS, writeS) = (0.0, 0.0, 0.0, 0.0)
        val (g, wall) = span("pipeline.run") {
          val (g, b) = span("graph.fromFile")(GedcomGraph.fromFile(spark, path))
          buildS = b
          cb = profile.snapshot()
          val rdds = spark.sparkContext.getRDDStorageInfo
          pinned = rdds.map(r => r.memSize + r.diskSize).sum / 1e6
          disk = rdds.map(_.diskSize).sum / 1e6
          val (outputs, w) = span("csvsink.write")(CsvSink.write(g, out))
          writeS = w
          CsvSink.importArgs(outputs)
          g
        }
        val cw = profile.snapshot()
        tidy()
        fields ++= Map(
          "wall_s" -> wall,
          "build_s" -> math.max(0.0, buildS - probe("probe_s").asInstanceOf[Double]),
          "build_total_s" -> buildS, "build_cpu_s" -> (cb - cp).cpuS,
          "pinned_mb" -> pinned, "spill_mb" -> disk,
          "write_s" -> writeS, "write_cpu_s" -> (cw - cb).cpuS,
          "csv_jobs" -> (cw - cb).jobs, "csv_tasks" -> (cw - cb).tasks,
          "csv_out_mb" -> (cw - cb).outputMb)
        fields ++= counters(cw - cp)
      } else {
        val t0 = now()
        GedcomPipeline.run(spark, path, out)
        val t1 = now()
        tidy()
        fields("wall_s") = secs(t0, t1)
        fields ++= counters(profile.snapshot() - c0)
      }
      fields("ok") = true
    } catch {
      case e: Throwable => fields ++= Map("ok" -> false, "error" -> String.valueOf(e))
    }
    if (record) emit(fields)
  }

  private def counters(c: Counters): Map[String, Any] = Map(
    "cpu_s" -> c.cpuS, "tasks" -> c.tasks, "stages" -> c.stages, "jobs" -> c.jobs,
    "shuffle_mb" -> c.shuffleWriteMb, "shuffle_records" -> c.shuffleRecords,
    "spill_mb" -> c.spillMb, "input_mb" -> c.inputMb, "gc_s" -> c.gcS,
    "codegen_s" -> c.codegenS, "classes" -> c.codegenClasses)

  // -------------------------------------------------------------- queries

  /** Graph queries over the pinned graph, by name. */
  private def graphQuery(name: String): DataFrame = name.split(":", 2) match {
    case Array("nodesWide", tag) => GedcomGraph.nodesWide(graph, tag)
    case Array("ancestorsOf", start) => GraphOps.ancestorsOf(graph.edges, start)
    case Array("familyClusters") => GraphOps.familyClusters(graph.edges)
    case Array("degrees") => GraphOps.degrees(graph.edges)
    case Array("summary") => summary(graph)
    case _ => sys.error(s"unknown graph query $name")
  }

  /** The six-section output summary q63/q72 compute, over the pinned graph:
    * node rows per tag, property-key counts, edges per relationship type,
    * skipped records per tag, unused tags and missing temple codes. */
  private def summary(g: GedcomGraph.Graph): DataFrame = {
    def sec(df: DataFrame, s: String, name: String, n: org.apache.spark.sql.Column) =
      df.select(lit(s).as("section"), col(name).as("name"), n.as("n"))
    val nodes = g.nodes.groupBy("rawTag").agg(count(lit(1)).as("c"))
    val keys = g.nodes.select(explode(map_keys(col("props"))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
    val edges = g.edges.groupBy("relType").agg(count(lit(1)).as("c"))
    val skipped = g.skipped.groupBy("rawTag").agg(count(lit(1)).as("c"))
    sec(nodes, "node", "rawTag", col("c"))
      .unionByName(sec(keys, "node_key", "k", col("c")))
      .unionByName(sec(edges, "edge", "relType", col("c")))
      .unionByName(sec(skipped, "skipped", "rawTag", col("c")))
      .unionByName(sec(g.unusedTags, "unused_tag", "tag", lit(1L)))
      .unionByName(sec(g.missingTemples, "missing_temple", "code", lit(1L)))
  }

  /** One query: build the frame, force its plan, execute it by collecting.
    * The result is written for checking after the timer stops. */
  private def query(name: String, pass: Int, record: Boolean, traceThis: Boolean): Unit = {
    opId += 1
    val sf = plan.one("sf")
    val (module, build): (String, () => DataFrame) = modules.get(name) match {
      case Some(mod) => (mod, () => SparkEntry.queries(name)(spark, sf))
      case None => ("graph", () => graphQuery(name))
    }
    val out = new File(work, s"out/$name/op$opId").getPath
    val fields = mutable.LinkedHashMap[String, Any](
      "op" -> opId, "pass" -> pass, "name" -> name, "module" -> module,
      "out" -> out, "traced" -> traceThis)
    try {
      val c0 = profile.snapshot()
      val (rows, schema) =
        if (traceThis) {
          val ((rows, schema, frameS, planS, execS), wall) = span("query") {
            val (df, frameS) = span("query.frame_build")(build())
            val (_, planS) = span("catalyst.plan")(df.queryExecution.executedPlan)
            val (rows, execS) = span("exec.run")(df.collect())
            (rows, df.schema, frameS, planS, execS)
          }
          val c = profile.snapshot() - c0
          fields ++= Map("wall_s" -> wall, "frame_s" -> frameS, "plan_s" -> planS,
            "exec_s" -> math.max(0.0, execS - c.codegenS))
          (rows, schema)
        } else {
          val t0 = now()
          val df = build()
          val rows = df.collect()
          fields("wall_s") = secs(t0, now())
          (rows, df.schema)
        }
      fields ++= counters(profile.snapshot() - c0)
      tidy()
      if (record)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out)
      fields("rows") = rows.length
      fields("ok") = true
    } catch {
      case e: Throwable =>
        tidy()
        fields ++= Map("ok" -> false, "error" -> String.valueOf(e))
    }
    if (record) emit(fields)
  }

  // ------------------------------------------------------------ workloads

  /** The operations of one round, in order. */
  private def round(pass: Int, record: Boolean, traceThis: Boolean): Unit = workload match {
    case "query-suite" =>
      suiteOps.foreach { q =>
        // each query's first timed run follows an untimed warm-up run
        if (warmed.add(q)) query(q, pass, record = false, traceThis = false)
        query(q, pass, record, traceThis)
      }
    case _ =>
      plan.all("input").foreach(p =>
        convert(p, new File(work, s"out/op${opId + 1}").getPath, pass, record, traceThis))
  }
  /** Registry query name -> its module, from `query<TAB>Module:name`. */
  private lazy val modules: Map[String, String] = plan.all("query").map { q =>
    val Array(mod, name) = q.split(":", 2); name -> mod
  }.toMap
  private lazy val suiteOps = plan.all("query").map(_.split(":", 2)(1)) ++ plan.all("graph_query")
  private val warmed = mutable.Set.empty[String]

  /** Session, pinned inputs and one untimed warm-up operation. */
  private def setUp(): Unit = {
    spark = session()
    profile = new WorkProfile(spark.sparkContext)
    workload match {
      case "query-suite" =>
        graph = GedcomGraph.fromFile(spark, plan.one("graph"))
        keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
        query(suiteOps.head, 0, record = false, traceThis = false)
        warmed += suiteOps.head
      case _ => convert(plan.one("warmup"), new File(work, "out/warmup").getPath,
        0, record = false, traceThis = false)
    }
  }

  private def tearDown(): Unit = {
    if (graph != null) { graph.release(); graph = null; keep = Set.empty }
    profile.close()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (1 to setups).map { k =>
      val t0 = if (k == 1) System.currentTimeMillis() - jvmStart else 0L
      val t1 = now()
      if (k > 1) tearDown()
      setUp()
      t0 / 1e3 + secs(t1, now())
    }
    if (traced && workload == "query-suite") {
      // the pinned graph's layers, for the parser/assembler metrics
      opId += 1
      emit(Map("op" -> opId, "pass" -> 0, "name" -> "graph-probe",
        "module" -> "probe", "traced" -> true, "ok" -> true) ++
        probeLayers(plan.one("graph")))
    }
    // the GEDCOM workloads warm every conversion with one untimed round;
    // query-suite warms each query just before its first timed run
    if (workload != "query-suite") round(0, record = false, traceThis = false)
    profile.resetPeak()
    val t0 = now()
    var pass = 0
    // whole rounds only; traced runs alternate traced and untraced rounds,
    // so the tracing overhead is measured in the same run
    while (secs(t0, now()) < seconds || (traced && pass < 2)) {
      pass += 1
      round(pass, record = true, traceThis = traced && pass % 2 == 1)
    }
    val loopS = secs(t0, now())
    val peak = profile.peakBlockMb
    if (workload == "query-suite") {
      // oracle SQL of the listed queries; the codebook oracles read the
      // trained tables, dumped beside the results
      val aux = new File(work, "aux")
      val sql = SparkEntry.oracleSql.filter { case (q, _) => modules.contains(q) }
      if (sql.values.exists(_.contains(graft.functions.Similarity.AUXDIR)))
        SparkEntry.auxTables.foreach { case (name, fn) =>
          fn(spark, plan.one("sf")).coalesce(1).write.mode("overwrite")
            .parquet(new File(aux, name).getPath)
        }
      val resolved = sql.map { case (q, s) =>
        q -> s.replace(graft.functions.Similarity.AUXDIR, aux.getPath) }
      val w = new PrintWriter(new File(work, "oracle.json"), "UTF-8")
      w.println(json(resolved)); w.close()
    }
    ops.close()
    val runJson = new PrintWriter(new File(work, "run.json"), "UTF-8")
    runJson.println(json(Map("setup_s" -> setupS, "peak_block_mb" -> peak,
      "passes" -> pass, "loop_s" -> loopS,
      "storage_mb" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6)))
    runJson.close()
    if (traced) {
      val w = new PrintWriter(new File(work, "spans.jsonl"), "UTF-8")
      spans.foreach(s => w.println(json(Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end))))
      w.close()
    }
    tearDown()
  }
}
