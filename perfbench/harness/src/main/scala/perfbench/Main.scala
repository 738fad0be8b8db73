package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.MemoLedger
import graft.sources.osmpbf.{OsmPbfScan, OsmPbfSkipMetrics}

/** Runs one workload: set-up, one checked run of every op, then timed
  * passes for the requested seconds. Writes a JSON result file that
  * `perfbench/run.py` turns into the benchmark's output line.
  *
  *   perfbench.Main --workload osm_ingest --seed 1 --seconds 10 --trace 0
  *     --work DIR --data DIR --cores 4 --osm-nodes 2400000 --result FILE
  */
object Main {
  final case class OpRun(name: String, build: Double, plan: Double,
      exec: Double, wall: Double, error: Option[String], foreignMemo: Boolean,
      layers: Map[String, Double])

  final case class PassRun(pass: Int, traced: Boolean, wall: Double,
      cpu: Double, heapMb: Double, ops: Seq[OpRun], layers: Map[String, Double])

  private object Plans extends AdaptiveSparkPlanHelper

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    new Main(workload, seed, seconds, trace, work, a("data"), cores,
      a("osm-nodes").toInt).run(a("result"))
  }

  /** Writes the result and trace files: maps in insertion order, every
    * digit of a double.
    */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Passes at the start of a run that are not measured: two pairs. */
  val WarmUpPasses = 4
  /** Fewest passes a run makes. */
  val MinPasses = 8

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class Main(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, dataDir: String, cores: Int, osmNodes: Int) {
  import Main._

  private val freshContextPerPass = workload == "pipeline_mix"
  private val tracer = if (trace) Some(new Tracer) else None
  private var spark: SparkSession = _
  private var listener: Option[ExecListener] = None

  private def startSession(traced: Boolean): Double = {
    val t0 = System.nanoTime()
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.ui.enabled", "false")
    // about four splits per core for the 18 MB generated PBF file, so a
    // slow core's share can move to the others
    if (workload == "osm_ingest") b.config("spark.sql.files.maxPartitionBytes", "1m")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listener = None
    setListener(traced)
    (System.nanoTime() - t0) / 1e9
  }

  private def setListener(traced: Boolean): Unit = {
    listener.foreach { l =>
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
    listener = if (traced) Some(new ExecListener(tracer)) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
  }

  // ---- host and JVM counters ----

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  private def gc(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans
    var n, ms = 0L
    beans.forEach { b => n += math.max(b.getCollectionCount, 0); ms += math.max(b.getCollectionTime, 0) }
    (n.toDouble, ms / 1e3)
  }
  private def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** (box-wide busy jiffies, this process's jiffies) from /proc, the
    * method of `graft.Bench`: their difference over a pass is the CPU
    * other processes burned while it ran.
    */
  private def jiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+")
      val busy = Seq(1, 2, 3, 6, 7, 8).map(i => f(i).toLong).sum
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (busy, (11 to 14).map(i => rest(i).toLong).sum)
    } catch { case NonFatal(_) => (-1L, -1L) }

  private def extCores(j0: (Long, Long), j1: (Long, Long), wall: Double): Double =
    if (j0._1 < 0 || j1._1 < 0 || wall <= 0) -1.0
    else math.max(0.0, ((j1._1 - j0._1) - (j1._2 - j0._2)) / 100.0 / wall)

  // ---- one op ----

  private def runOp(op: Op, pass: Int, parent: Int): OpRun = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, op.name)
    sc.setLocalProperty(Trace.PassKey, pass.toString)
    val traced = listener.isDefined
    val opSpan = tracer.filter(_ => traced).map(_.nextId()).getOrElse(0)
    val opStart = tracer.map(_.now()).getOrElse(0L)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val times = mutable.LinkedHashMap("build" -> 0.0, "plan" -> 0.0, "exec" -> 0.0)
    def phase[T](name: String)(body: => T): T = {
      val id = tracer.filter(_ => traced).map(_.nextId()).getOrElse(0)
      sc.setLocalProperty(Trace.PhaseKey, name)
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val s0 = tracer.map(_.now()).getOrElse(0L)
      val t0 = System.nanoTime()
      try body
      finally {
        times(name) = (System.nanoTime() - t0) / 1e9
        for (t <- tracer if traced)
          t.add(Span(id, opSpan, pass, s"op.$name", op.name, s0, t.now()))
      }
    }
    val t0 = System.nanoTime()
    var df: Option[DataFrame] = None
    var extra = Map.empty[String, Double]
    val error =
      try {
        val d = phase("build")(op.build(spark))
        df = Some(d)
        if (op.plan) phase("plan")(d.queryExecution.executedPlan)
        extra = phase("exec")(op.exec(spark, d))
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    for (t <- tracer if traced)
      t.add(Span(opSpan, parent, pass, "op", op.name, opStart, t.now()))
    Seq(Trace.OpKey, Trace.PassKey, Trace.PhaseKey, Trace.SpanKey)
      .foreach(sc.setLocalProperty(_, null))
    val layers = mutable.Map.empty[String, Double] ++ extra
    layers("query.build_s") = times("build")
    layers("plan.plan_s") = times("plan")
    layers("exec.exec_s") = times("exec")
    layers("plan.codegen_compiles") =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    layers("plan.codegen_ms") = (CodeGenerator.compileTime - compileNs0) / 1e6
    listener.foreach { l =>
      ListenerBusAccess.waitUntilEmpty(sc)
      l.drain().values.foreach(_.foreach { case (k, v) =>
        layers(k) = layers.getOrElse(k, 0.0) + v
      })
      val actions = l.drainActions()
      if (error.isEmpty) {
        // the scans of the plan the exec phase drained, or of the queries
        // that the op's actions ran
        val plans = df.filter(_ => op.plan).map(_.queryExecution.executedPlan).toSeq ++
          actions.map(_.executedPlan)
        val scans = plans.flatMap(p => Plans.collect(p) {
          case b: BatchScanExec if b.scan.isInstanceOf[OsmPbfScan] => b
        })
        layers("osmpbf.scan_tasks") = scans.map(_.inputRDD.getNumPartitions).sum.toDouble
        layers("osmpbf.scan_rows_out") =
          scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble
      }
    }
    spark.catalog.clearCache()
    val foreign = MemoLedger.drainForeignHits().nonEmpty
    if (foreign) layers("memo.foreign_hit_ops") = 1.0
    OpRun(op.name, times("build"), times("plan"), times("exec"), wall, error,
      foreign, layers.toMap)
  }

  // ---- one pass ----

  private def runPass(ops: Seq[Op], pass: Int, traced: Boolean): PassRun = {
    val j0 = jiffies()
    val cpu0 = cpuSeconds()
    val (gcN0, gcS0) = gc()
    val jit0 = jitMs()
    val start = tracer.map(_.now()).getOrElse(0L)
    val passSpan = tracer.filter(_ => traced).map(_.nextId()).getOrElse(0)
    val t0 = System.nanoTime()
    val sessionS =
      if (freshContextPerPass) startSession(traced)
      else { setListener(traced); 0.0 }
    val runs = ops.map(op => runOp(op, pass, passSpan))
    val wall = (System.nanoTime() - t0) / 1e9
    for (t <- tracer if traced) t.add(Span(passSpan, 0, pass, "pass", "", start, t.now()))
    val cpu = cpuSeconds() - cpu0
    val ext = extCores(j0, jiffies(), wall)
    val (gcN1, gcS1) = gc()
    val passLayers = Map("session.start_s" -> sessionS,
      "jvm.gc_count" -> (gcN1 - gcN0), "jvm.gc_s" -> (gcS1 - gcS0),
      "jvm.jit_ms" -> (jitMs() - jit0), "host.ext_cores" -> ext)
    // the second collection also reclaims what the ContextCleaner
    // released after the first one
    System.gc()
    Thread.sleep(100)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    PassRun(pass, traced, wall, cpu, heapMb, runs, passLayers)
  }

  // ---- the run ----

  def run(resultPath: String): Unit = {
    val t0 = System.nanoTime()
    val result = mutable.LinkedHashMap.empty[String, Any]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = startSession(traced = false)
    val inputT0 = System.nanoTime()
    val pbfPath = s"$work/input.osm.pbf"
    val (ops, inventory) = workload match {
      case "osm_ingest" =>
        val inv = OsmGen.write(pbfPath, seed, osmNodes)
        (Workloads.osm(pbfPath, s"$work/written", inv), Some(inv))
      case "pipeline_mix" =>
        (Workloads.entries(Workloads.PipelineMix, dataDir, s"$work/check"), None)
      case other => sys.error(s"unknown workload $other")
    }
    val inputS = (System.nanoTime() - inputT0) / 1e9
    // the checked run: every op once, outside the timed passes
    val checkT0 = System.nanoTime()
    val checks = ops.map { op =>
      val err =
        try op.check(spark, op.build(spark))
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      spark.catalog.clearCache()
      op.name -> err
    } ++ inventory.map(inv => "determinism" -> determinism(inv))
    MemoLedger.drainForeignHits()
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val skipped0 = OsmPbfSkipMetrics.registered(spark).skippedBlocks.value
    if (freshContextPerPass) spark.stop()
    // Passes: as many as fit in `seconds` at the second pass's pace (the
    // first is much the slowest), an even number and at least eight.
    // Fixing the count early keeps small timing noise from changing how
    // many passes the median is taken over. A traced run alternates
    // untraced and traced passes, so it has two of each after the
    // warm-up.
    val shuffled = workload != "osm_ingest"
    val rng = new scala.util.Random(seed)
    var previous = ops
    val firstOpMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val probes = mutable.ArrayBuffer.empty[Map[String, Double]]
    var nPasses = 2
    var n = 0
    while (n < nPasses) {
      n += 1
      // the seed permutes the ops of every odd pass, and the even pass
      // after it runs them in reverse, so each pair of passes has every
      // op both before and after every other (which of two entries
      // builds the memo they share changes a pass's time)
      val order =
        if (!shuffled) ops else if (n % 2 == 0) previous.reverse else rng.shuffle(ops)
      previous = order
      val traced = trace && n % 2 == 0
      val p = runPass(order, n, traced)
      passes += p
      if (n == 2) nPasses = 2 * math.max(MinPasses / 2, math.round(seconds / p.wall / 2).toInt)
      if (freshContextPerPass) spark.stop()
      if (traced && workload == "osm_ingest") {
        val probeSpan = tracer.get.nextId()
        val s0 = tracer.get.now()
        probes += PbfProbe.run(pbfPath, tracer, probeSpan, n)
        tracer.get.add(Span(probeSpan, 0, n, "pbf_probe", "", s0, tracer.get.now()))
      }
    }
    val skipped =
      if (freshContextPerPass) 0L
      else {
        val lost = OsmPbfSkipMetrics.registered(spark).skippedBlocks.value - skipped0
        spark.stop()
        lost
      }

    // the first passes are a warm-up: the JIT keeps compiling for
    // several passes (on osm_ingest about 3 s of CPU in the second pass,
    // about 1 s from the fifth on), and the first pass's heap still holds
    // what the checked run left behind
    val measured = passes.toSeq.drop(WarmUpPasses)
    val timed = measured.filter(!_.traced)
    // the passes ran in the order the seed gives, and nothing else
    // reordered them
    val allChecks = checks ++ (if (!shuffled) Nil else {
      val r = new scala.util.Random(seed)
      val want = passes.indices.foldLeft(Vector.empty[Seq[String]]) { (acc, i) =>
        acc :+ (if (i % 2 == 1) acc.last.reverse else r.shuffle(ops).map(_.name))
      }
      val ok = want == passes.map(_.ops.map(_.name))
      Seq("op order" -> (if (ok) None else Some("passes did not run in the seed's op order")))
    })
    val failedRuns = passes.flatMap(_.ops).count(_.error.isDefined)
    val failedChecks = allChecks.count(_._2.isDefined)
    val attempted = passes.map(_.ops.size).sum + allChecks.size
    val e2e = mutable.LinkedHashMap[String, Double](
      "pass_s" -> median(timed.map(_.wall)),
      "cpu_s" -> median(timed.map(_.cpu)),
      // over the untraced passes among the first five, which every run
      // makes: a fixed count of passes (and of fresh contexts), so the
      // figure does not grow with how many passes fit in `seconds`
      "retained_heap_mb" -> passes.take(5).filter(!_.traced).drop(1).map(_.heapMb).max)
    inventory.foreach { inv =>
      e2e ++= osmRates(timed, inv)
    }
    // entries whose written output run.py hashes against the oracle
    val hashed = if (workload == "pipeline_mix") ops.map(_.name).toSet else Set.empty[String]
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else layerMetrics(passes.toSeq, measured, probes.toSeq, inventory, skipped.toDouble)

    result ++= Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "seconds" -> seconds, "trace" -> trace, "warm_up_passes" -> WarmUpPasses,
      "env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
      "jvm_start_ms" -> jvmStartMs, "first_timed_op_ms" -> firstOpMs,
      "setup" -> ListMap("session_s" -> sessionS, "input_s" -> inputS,
        "check_s" -> checkS),
      "attempted" -> attempted, "failed" -> (failedRuns + failedChecks),
      "checks" -> allChecks.map { case (k, v) =>
        ListMap("op" -> k, "error" -> v, "oracle" -> hashed(k)) },
      "end_to_end" -> e2e, "per_layer" -> layers,
      "passes" -> passes.map(p => ListMap(
        "pass" -> p.pass, "traced" -> p.traced, "pass_s" -> p.wall,
        "cpu_s" -> p.cpu, "heap_mb" -> p.heapMb,
        "ext_cores" -> p.layers("host.ext_cores"),
        "order" -> p.ops.map(_.name), "layers" -> p.layers,
        "ops" -> p.ops.map(o => ListMap("op" -> o.name, "wall_s" -> o.wall,
          "build_s" -> o.build, "plan_s" -> o.plan, "exec_s" -> o.exec,
          "error" -> o.error, "foreign_memo" -> o.foreignMemo,
          "layers" -> o.layers)))),
      "run_s" -> (System.nanoTime() - t0) / 1e9)
    inventory.foreach { inv =>
      result("inventory") = ListMap("nodes" -> inv.nodes, "ways" -> inv.ways,
        "relations" -> inv.relations, "tiles" -> inv.tileCount,
        "bbox_nodes" -> inv.bboxCount, "written_nodes" -> inv.writtenNodes,
        "bytes" -> inv.bytes, "sha256" -> inv.sha256)
    }
    tracer.foreach { t =>
      val self = t.selfTimes()
      result("self_time") = self.map { case (n, s, c) =>
        ListMap("span" -> n, "self_s" -> s, "count" -> c) }
      val spans = t.all.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "pass" -> s.pass, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end))
      json.writeValue(new java.io.File(s"$work/trace-$workload.json"), spans)
    }
    json.writeValue(new java.io.File(resultPath), result)
  }

  /** osm_ingest's throughput figures, medians over untraced passes. */
  private def osmRates(passes: Seq[PassRun], inv: OsmInventory): Seq[(String, Double)] = {
    val readOps = Map("tile_density" -> inv.nodes, "tag_frequency" -> inv.nodes,
      "bbox_columnar" -> inv.nodes, "count_pushdown" -> inv.nodes,
      "way_refs" -> inv.ways)
    val scan = passes.map { p =>
      val rs = p.ops.filter(o => readOps.contains(o.name))
      rs.map(o => readOps(o.name)).sum / math.max(rs.map(_.wall).sum, 1e-9)
    }
    val writes = passes.flatMap(_.ops.find(_.name == "write_nodes"))
    val write = writes.map(o => o.layers.getOrElse("osmpbf.written_rows", 0.0) /
      math.max(o.layers.getOrElse("osmpbf.write_s", 0.0), 1e-9))
    val bpe = writes.map(o => o.layers.getOrElse("osmpbf.written_bytes", 0.0) /
      math.max(o.layers.getOrElse("osmpbf.written_rows", 0.0), 1.0))
    Seq("scan_rows_per_s" -> median(scan), "write_rows_per_s" -> median(write),
      "bytes_per_entity" -> median(bpe))
  }

  /** Per-layer figures: each summed over a traced pass, then the median
    * over the traced passes after the warm-up.
    */
  private def layerMetrics(passes: Seq[PassRun], measured: Seq[PassRun],
      probes: Seq[Map[String, Double]], inv: Option[OsmInventory],
      skipped: Double): Map[String, Double] = {
    // one probe per traced pass, in pass order, on osm_ingest only
    val probeOf = passes.filter(_.traced).map(_.pass).zip(probes).toMap
    val traced = measured.filter(_.traced)
    val perPass = traced.map { p =>
      val m = mutable.Map.empty[String, Double] ++ p.layers
      p.ops.foreach(_.layers.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v })
      probeOf.get(p.pass).foreach(m ++= _)
      // entries also run jobs while they are built, so tasks are set
      // against the ops' whole wall time
      val opWall = Seq("query.build_s", "plan.plan_s", "exec.exec_s")
        .map(m.getOrElse(_, 0.0)).sum
      m("exec.core_util") = m.getOrElse("exec.task_run_s", 0.0) /
        math.max(opWall * cores, 1e-9)
      m.toMap
    }
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val osm = inv.map(i => osmRates(traced, i).map { case (k, v) => s"osmpbf.$k" -> v } :+
      ("osmpbf.input_mb" -> med.getOrElse("exec.input_mb", 0.0))).getOrElse(Nil)
    med ++ osm ++ Map("osmpbf.skipped_blocks" -> skipped,
      "trace.overhead" -> median(traced.map(_.wall)) /
        math.max(median(measured.filter(!_.traced).map(_.wall)), 1e-9))
  }

  /** The generator is a pure function of the seed: regenerating the
    * measured file from the same seed gives the same bytes, and another
    * seed gives other bytes with the same inventory shape (checked on two
    * small files).
    */
  private def determinism(inv: OsmInventory): Option[String] = {
    val again = OsmGen.write(s"$work/det-a.osm.pbf", seed, osmNodes)
    val n = 20000
    val b = OsmGen.write(s"$work/det-b.osm.pbf", seed, n)
    val c = OsmGen.write(s"$work/det-c.osm.pbf", seed + 1, n)
    Seq("a", "b", "c").foreach(x => Files.deleteIfExists(Paths.get(s"$work/det-$x.osm.pbf")))
    def shape(i: OsmInventory) = (i.nodes, i.ways, i.relations, i.wayRefs.values.sum)
    val failed = Seq("same seed, same bytes" -> (again.sha256 == inv.sha256),
      "other seed, other bytes" -> (b.sha256 != c.sha256),
      "same inventory shape" -> (shape(b) == shape(c)))
      .collect { case (what, false) => what }
    if (failed.isEmpty) None else Some(failed.mkString("not: ", ", ", ""))
  }
}
