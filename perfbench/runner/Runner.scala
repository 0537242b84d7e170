package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.pipeline.Pipeline
import graft.quality.{FreshnessRule, QualitySuite, RangeRule, UniqueRule}

/** JVM side of the benchmark: one closed-loop client driving the
  * engine's public entry points on one workload, for a fixed number of
  * passes over its operations, in a `local[N]` session built like
  * `graft.Bench`'s.
  *
  *   perfbench.Runner <key=value>...
  *     workload=star-sql|dedup-graph|etl-load seed=N passes=P trace=0|1
  *     cpus=N data=DIR out=DIR queries=q01_..,q02_.. batches=DIR,DIR
  *     asof=yyyy-MM-dd,...
  *
  * It measures and records; the checks against expected outputs run
  * in `run.py` over what it writes to `out`:
  *   - `ops.jsonl`: one line per timed operation with its wall time,
  *     error (if it threw) and the observations the checks need;
  *   - `summary.json`: set-up time, pass walls, machine state, peak RSS
  *     and, in the traced run, the per-layer metrics;
  *   - `spans.json` (traced run): one span tree per operation;
  *   - `dump/<query>` (query workloads): the warm pass's results as
  *     parquet, for the oracle hash check;
  *   - `wh/pass<N>` (etl-load): each pass's warehouse.
  *
  * With trace=1 the run first measures about half of the passes
  * untraced, then registers a `SparkListener` and a
  * `QueryExecutionListener` and measures the rest traced; the
  * difference of the two pass medians is the tracing overhead. Listeners are never
  * registered with trace=0.
  */
object Runner {

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val out = args("out")
    Files.createDirectories(Paths.get(out))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.util.Scratch.path("warehouse"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val wl: Workload = workload match {
      case "star-sql" | "dedup-graph" =>
        new QueryWorkload(spark, args("data"), args("queries").split(",").toSeq, out)
      case "etl-load" =>
        new EtlWorkload(spark, args("batches").split(",").toSeq,
          args("asof").split(",").toSeq, out)
      case other => sys.error(s"unknown workload $other")
    }
    val rec = new Recorder(spark, cpus)

    // set-up: session (above), table registration, one untimed warm pass
    wl.setup()
    wl.runPass(0, seed, None)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val loadBefore = loadAvg()
    val calibBefore = calibrate(spark)
    // `passes` whole timed passes (a traced run: about half untraced,
    // then the rest traced), so both commits of an A/B do the same work
    val nPasses = args("passes").toInt
    val passes = ArrayBuffer[(Int, Boolean, Double)]()
    def measure(traced: Boolean, n: Int): Unit = (1 to n).foreach { _ =>
      val p = passes.size + 1
      val w = wl.runPass(p, seed, Some(rec.forPass(p, traced)))
      passes += ((p, traced, w))
    }
    val untraced = if (trace) (nPasses / 2).max(1) else nPasses
    measure(traced = false, untraced)
    if (trace) {
      rec.register()
      measure(traced = true, (nPasses - untraced).max(1))
      wl.probes(rec)
    }
    val calibAfter = calibrate(spark)
    val loadAfter = loadAvg()

    val layers: Map[String, Double] =
      if (trace) { ListenerDrain.drain(spark.sparkContext); rec.layers() }
      else Map.empty
    Json.writeLines(s"$out/ops.jsonl", rec.ops.toSeq.map(_.toMap))
    if (trace) Json.write(s"$out/spans.json", rec.spanTrees())
    Json.write(s"$out/summary.json", Map(
      "setup_s" -> setupS,
      "passes" -> passes.toSeq.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "pass_stats" -> wl.passStats.toSeq.sortBy(_._1).map(_._2),
      "vm_hwm_kb" -> vmHwmKb(),
      "machine" -> Map("load_before" -> loadBefore, "load_after" -> loadAfter,
        "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter),
      "layers" -> layers))
    spark.stop()
  }

  /** First three fields of /proc/loadavg, as `graft.Bench` records them. */
  def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** `graft.Bench`'s data-independent calibration job (range → hash
    * aggregate over a shuffle), sized down to fit a short run: median
    * of three timed runs after one untimed warm-up. Its time moves only
    * with machine conditions. */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, 8)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }

  def vmHwmKb(): Long =
    try new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** Bytes of the data files under `dir` (Spark's `.crc` side files and
    * `_SUCCESS` markers excluded). */
  def dataBytes(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) {
      if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) 0L
      else dir.length
    } else Option(dir.listFiles).toSeq.flatten.map(dataBytes).sum
}

/** One timed operation as recorded for `ops.jsonl`. */
final class OpRec(val id: Int, val pass: Int, val traced: Boolean,
    val name: String) {
  var t0Ms = 0.0
  var t1Ms = 0.0
  var wallS = 0.0
  var error: Option[String] = None
  val obs = mutable.LinkedHashMap[String, Any]()
  def toMap: Map[String, Any] = Map("id" -> id, "pass" -> pass,
    "traced" -> traced, "name" -> name, "wall_s" -> wallS,
    "error" -> error.orNull) ++ obs
}

/** A span: a timed call into one layer, nested under its operation. */
final case class Span(op: Int, name: String, layer: String, startMs: Double,
    endMs: Double) {
  def dur: Double = endMs - startMs
}

/** Per-pass handle the workloads time their operations through. */
final class PassRec(rec: Recorder, pass: Int, traced: Boolean) {
  def op[T](name: String)(body: OpRec => T): OpRec = {
    val o = new OpRec(rec.ops.size + 1, pass, traced, name)
    rec.ops += o
    o.t0Ms = Recorder.nowMs()
    val t0 = System.nanoTime()
    try body(o)
    catch { case e: Throwable =>
      o.error = Some(String.valueOf(e.getMessage).take(300))
    }
    o.wallS = (System.nanoTime() - t0) / 1e9
    o.t1Ms = o.t0Ms + o.wallS * 1000
    o
  }
  /** A child span of `o` around `body` (recorded in traced passes). */
  def span[T](o: OpRec, name: String, layer: String)(body: => T): T = {
    val s = Recorder.nowMs()
    try body
    finally if (traced) rec.spans += Span(o.id, name, layer, s, Recorder.nowMs())
  }
  def isTraced: Boolean = traced
  def recorder: Recorder = rec
}

object Recorder {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Wall-clock milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = base + System.nanoTime() / 1e6
}

/** Collects operations, spans and (once registered) Spark listener
  * events, and turns them into the per-layer metrics. */
final class Recorder(spark: SparkSession, cpus: Int) {
  val ops = ArrayBuffer[OpRec]()
  val spans = ArrayBuffer[Span]()
  /** Extra samples recorded by the workloads (name → values); a name
    * with a dot is a per-layer metric, reported as its mean. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer()) += v

  def forPass(p: Int, traced: Boolean) = new PassRec(this, p, traced)

  final case class Task(launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shW: Long, shR: Long, spill: Long, peak: Long, result: Long,
      input: Long, output: Long)
  final case class Plan(startMs: Long, analysis: Long, optimization: Long,
      planning: Long, phases: Seq[(String, Long, Long)])
  private val jobs = ArrayBuffer[Long]()
  private val stages = ArrayBuffer[Long]()
  private val tasks = ArrayBuffer[Task]()
  private val plans = ArrayBuffer[Plan]()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized(stages +=
          e.stageInfo.submissionTime.getOrElse(0L))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          tasks.synchronized(tasks += Task(e.taskInfo.launchTime,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.peakExecutionMemory, m.resultSize,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def d(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis())
        plans.synchronized(plans += Plan(start, d("analysis"),
          d("optimization"), d("planning"),
          ph.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }))
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
    })
  }

  private def in(t: Double, lo: Double, hi: Double) = t >= lo && t <= hi
  private def tracedOps = ops.filter(_.traced).toSeq

  /** Plan-phase spans of the actions started inside `o`. */
  private def planSpans(o: OpRec): Seq[Span] =
    plans.filter(p => in(p.startMs, o.t0Ms, o.t1Ms + 1)).toSeq
      .flatMap(_.phases.collect {
        case (n, s, e) if Set("analysis", "optimization", "planning")(n) =>
          Span(o.id, s"plan.$n", "plans", s.toDouble, e.toDouble)
      })

  /** Every span of traced operation `o`: the operation itself, the
    * workload's child spans, and the plan phases nested under whichever
    * child they started in. */
  def spansOf(o: OpRec): Seq[Span] =
    Span(o.id, o.name, "op", o.t0Ms, o.t1Ms) +:
      (spans.filter(_.op == o.id).toSeq ++ planSpans(o))

  /** Self time of `s` among `all`: its duration minus the part covered
    * by spans nested directly inside it. */
  private def selfMs(s: Span, all: Seq[Span], parentOf: Span => Option[Span]) = {
    val kids = all.filter(k => parentOf(k).contains(s))
      .map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = Double.MinValue
    kids.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.dur - covered
  }

  private def tree(o: OpRec): (Seq[Span], Span => Option[Span]) = {
    val all = spansOf(o)
    val root = all.head
    val children = all.tail.filterNot(_.layer == "plans")
    def parentOf(s: Span): Option[Span] =
      if (s eq root) None
      else if (s.layer != "plans") Some(root)
      else children.find(c => in(s.startMs, c.startMs, c.endMs))
        .orElse(Some(root))
    (all, parentOf)
  }

  def spanTrees(): Seq[Map[String, Any]] = tracedOps.map { o =>
    val (all, parentOf) = tree(o)
    Map("op" -> o.id, "name" -> o.name, "pass" -> o.pass,
      "spans" -> all.zipWithIndex.map { case (s, i) =>
        Map("id" -> i, "name" -> s.name, "layer" -> s.layer,
          "parent" -> parentOf(s).map(p => all.indexWhere(_ eq p)),
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> selfMs(s, all, parentOf))
      })
  }

  /** Per-layer metrics of the traced passes, each a mean per operation
    * unless noted, plus each layer's self time per operation. An
    * operation whose child spans leave more than 10 % of its wall time
    * unaccounted is reported on stderr. */
  def layers(): Map[String, Double] = {
    val os = tracedOps
    val n = os.size.max(1).toDouble
    def opTasks(o: OpRec) = tasks.filter(t => in(t.launch, o.t0Ms, o.t1Ms + 1))
    def per(f: OpRec => Double) = os.map(f).sum / n
    val selfByLayer = mutable.LinkedHashMap[String, Double]()
    os.foreach { o =>
      val (all, parentOf) = tree(o)
      val root = all.head
      val direct = all.filter(s => parentOf(s).contains(root))
      val covered = direct.map(_.dur).sum / root.dur.max(1e-9)
      if (covered < 0.9)
        System.err.println(f"[perfbench] ERROR op ${o.id} (${o.name}): " +
          f"child spans cover ${covered * 100}%.1f%% of its " +
          f"${o.wallS}%.3f s wall")
      all.foreach { s =>
        selfByLayer(s.layer) = selfByLayer.getOrElse(s.layer, 0.0) +
          selfMs(s, all, parentOf) / 1000.0
      }
    }
    val ts = os.map(o => o -> opTasks(o)).toMap
    def tsum(f: Task => Double) = per(o => ts(o).map(f).sum)
    val wallSum = os.map(_.wallS).sum
    val runSum = os.map(o => ts(o).map(_.runMs).sum / 1000.0).sum
    def planSum(f: Plan => Long) = per(o => plans.filter(p =>
      in(p.startMs, o.t0Ms, o.t1Ms + 1)).map(f).sum / 1000.0)
    def spanSum(layer: String, prefix: String = "") = per(o =>
      spans.filter(s => s.op == o.id && s.layer == layer &&
        s.name.startsWith(prefix)).map(_.dur).sum / 1000.0)
    val base = Map(
      "plans.analysis_s" -> planSum(_.analysis),
      "plans.optimization_s" -> planSum(_.optimization),
      "plans.planning_s" -> planSum(_.planning),
      "plans.actions" -> per(o => plans.count(p =>
        in(p.startMs, o.t0Ms, o.t1Ms + 1)).toDouble),
      "operators.build_s" -> spanSum("operators"),
      "operators.eager_jobs" -> per(o => spans.filter(s => s.op == o.id &&
        s.layer == "operators").map(s => jobs.count(j =>
          in(j, s.startMs, s.endMs)).toDouble).sum),
      "spark.execute_s" -> spanSum("spark"),
      "spark.jobs" -> per(o => jobs.count(in(_, o.t0Ms, o.t1Ms + 1)).toDouble),
      "spark.stages" -> per(o => stages.count(in(_, o.t0Ms, o.t1Ms + 1)).toDouble),
      "spark.tasks" -> per(o => ts(o).size.toDouble),
      "spark.idle_core_frac" -> (1 - runSum / (wallSum * cpus).max(1e-9)),
      "spark.task_run_s" -> tsum(_.runMs / 1000.0),
      "spark.task_cpu_s" -> tsum(_.cpuNs / 1e9),
      "spark.gc_s" -> tsum(_.gcMs / 1000.0),
      "spark.shuffle_write_bytes" -> tsum(_.shW.toDouble),
      "spark.shuffle_read_bytes" -> tsum(_.shR.toDouble),
      "spark.spill_bytes" -> tsum(_.spill.toDouble),
      "spark.peak_exec_mem_bytes" -> os.flatMap(ts(_).map(_.peak.toDouble))
        .maxOption.getOrElse(0.0),
      "spark.result_bytes" -> tsum(_.result.toDouble),
      "spark.input_bytes" -> tsum(_.input.toDouble),
      "pipeline.transform_s" -> spanSum("pipeline"),
      "warehouse.stage_s" -> spanSum("warehouse", "stage"),
      "warehouse.merge_s" -> spanSum("warehouse", "merge"),
      "quality.gates_s" -> spanSum("quality"))
    val bytesIn = (prefix: String) => per(o => spans.filter(s =>
      s.op == o.id && s.layer == "warehouse" && s.name.startsWith(prefix))
      .map(s => tasks.filter(t => in(t.launch, s.startMs, s.endMs))
        .map(_.output).sum.toDouble).sum)
    val written = bytesIn("")
    val staged = samples.get("staged_batch_bytes").map(_.sum).getOrElse(0.0)
    val merged = bytesIn("merge") * n
    val extra = Map(
      "warehouse.bytes_written" -> written,
      "warehouse.write_amp" -> (if (staged > 0) merged / staged else 0.0)) ++
      samples.collect { case (k, v) if k.contains(".") =>
        k -> (v.sum / v.size.max(1)) }
    System.err.println("[perfbench] self time per operation by layer (s): " +
      selfByLayer.map { case (l, v) => f"$l=${v / n}%.4f" }.mkString(" "))
    base ++ extra ++ selfByLayer.map { case (l, v) => s"self.$l" -> v / n }
  }
}

/** A workload: a fixed list of operations run once per pass. */
trait Workload {
  def setup(): Unit
  /** Runs one pass (`rec` is None for the untimed warm pass) and
    * returns its wall time in seconds. */
  def runPass(pass: Int, seed: Long, rec: Option[PassRec]): Double
  /** Traced-run-only measurements outside the timed operations. */
  def probes(rec: Recorder): Unit = ()
  /** Per-pass observations for the end-to-end metrics. */
  val passStats = mutable.Map[Int, Map[String, Any]]()
}

/** `star-sql` and `dedup-graph`: each operation is one registered query
  * (`SparkEntry.queries`), built by `Q.fn` and run to its last row into
  * the `noop` sink, in a per-pass order shuffled by the seed. */
final class QueryWorkload(spark: SparkSession, dir: String,
    names: Seq[String], out: String) extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

  def setup(): Unit = {
    Json.write(s"$out/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (n, _) => fns.contains(n) })
    Tables.registerAll(spark, dir)
  }

  def runPass(pass: Int, seed: Long, rec: Option[PassRec]): Double = {
    val t0 = System.nanoTime()
    // persisted frames from the previous pass would turn internal
    // persist() calls into cached reads
    spark.catalog.clearCache()
    rec match {
      case None =>
        // warm pass: the timed plan, written to parquet for the oracle
        // check (no coalesce: the query stages stay those of the timed
        // path, so their generated code is compiled here, not in pass 1)
        names.foreach { n =>
          try fns(n)(spark, dir).observe(Observation(s"warm_$n"),
              count(lit(1)).as("n")).write.mode("overwrite")
            .parquet(s"$out/dump/$n")
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] warm $n failed: ${e.getMessage}")
          }
        }
      case Some(r) =>
        if (r.isTraced) {
          val l0 = System.nanoTime()
          Tables.names.foreach(t => Tables.load(spark, dir, t))
          r.recorder.sample("tables.load_s", (System.nanoTime() - l0) / 1e9)
        }
        val order = new scala.util.Random(seed * 1000003L + pass)
          .shuffle(names)
        order.foreach { n =>
          r.op(n) { o =>
            val df = r.span(o, "build", "operators")(fns(n)(spark, dir))
            val obs = Observation(s"rows_${o.id}")
            r.span(o, "execute", "spark") {
              df.observe(obs, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save()
              o.obs("rows") = obs.get("n")
            }
          }
        }
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** `etl-load`: each operation loads one generated daily-feed batch into
  * the pass's warehouse directory, in `PipelineMain`'s stage-then-commit
  * order, and ends with the post-load gate read over the fact. */
final class EtlWorkload(spark: SparkSession, batches: Seq[String],
    asOf: Seq[String], out: String) extends Workload {
  import EtlWorkload._

  def setup(): Unit = ()

  def runPass(pass: Int, seed: Long, rec: Option[PassRec]): Double = {
    val wh = s"$out/wh/pass$pass"
    val t0 = System.nanoTime()
    val r = rec.getOrElse(new PassRec(new Recorder(spark, 1), pass, false))
    val last = batches.indices.map { b =>
      r.op(s"batch$b") { o => loadBatch(r, o, wh, b) }
    }.last
    val wall = (System.nanoTime() - t0) / 1e9
    val bytes = Seq("fact_weather", "dim_location", "dim_soil", "dim_crop")
      .map(t => Runner.dataBytes(new File(s"$wh/$t"))).sum
    passStats(pass) = Map("pass" -> pass, "dir" -> s"wh/pass$pass",
      "stored_bytes" -> bytes, "fact_rows" -> last.obs.getOrElse("fact_rows", 0L))
    wall
  }

  private def loadBatch(r: PassRec, o: OpRec, wh: String, b: Int): Unit = {
    val in = batches(b)
    val today = lit(asOf(b))
    def load(name: String, schema: StructType): DataFrame = {
      spark.catalog.refreshByPath(s"$wh/$name")
      if (new File(s"$wh/$name").exists) spark.read.parquet(s"$wh/$name")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    def stage(name: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$wh/${name}_new")
      spark.catalog.refreshByPath(s"$wh/${name}_new")
    }
    def promote(names: String*): Unit = names.foreach { name =>
      spark.read.parquet(s"$wh/${name}_new").write
        .mode(SaveMode.Overwrite).parquet(s"$wh/$name")
      spark.catalog.refreshByPath(s"$wh/$name")
    }

    val (sDim, soil, quarantine) = r.span(o, "soil", "pipeline") {
      Pipeline.runSoil(spark, s"$in/soilgrids.jsonl",
        load("dim_location", DimSchema), load("dim_soil", SoilSchema), today)
    }
    o.obs("quarantined") = r.span(o, "soil.quarantine", "pipeline")(
      quarantine.count())
    r.span(o, "stage.soil", "warehouse") {
      stage("dim_location", sDim.drop("is_new"))
      stage("dim_soil", soil)
      promote("dim_location", "dim_soil")
    }
    val (wDim, fact) = r.span(o, "weather", "pipeline") {
      val (d, f) = Pipeline.weatherBatch(spark, s"$in/openmeteo.jsonl",
        load("dim_location", DimSchema), today)
      (d, Pipeline.withMonthParts(f))
    }
    r.span(o, "stage.weather", "warehouse") {
      stage("dim_location", wDim.drop("is_new"))
      stage("fact_batch", fact)
      promote("dim_location")
    }
    val factPath = s"$wh/fact_weather"
    val before = partitionFiles(factPath)
    r.span(o, "merge.weather", "warehouse") {
      Pipeline.weatherMerge(spark, factPath,
        spark.read.parquet(s"$wh/fact_batch_new"))
      spark.catalog.refreshByPath(factPath)
    }
    if (r.isTraced) {
      val after = partitionFiles(factPath)
      r.recorder.sample("warehouse.partitions_rewritten",
        after.count { case (p, fs) => !before.get(p).contains(fs) }.toDouble)
      r.recorder.sample("warehouse.files_per_partition",
        after.values.map(_.size).sum.toDouble / after.size.max(1))
      r.recorder.sample("staged_batch_bytes",
        Runner.dataBytes(new File(s"$wh/fact_batch_new")).toDouble)
    }
    val scraped = spark.read.schema(CropPageSchema).json(s"$in/crops.jsonl")
    val crop = r.span(o, "crop", "pipeline")(
      Pipeline.runCrop(scraped, load("dim_crop", CropSchema), today))
    r.span(o, "stage.crop", "warehouse") {
      stage("dim_crop", crop)
      promote("dim_crop")
    }
    r.span(o, "gate", "quality") {
      val tables = Map("fact_weather" -> spark.read.parquet(factPath)
        .withColumn("obs_date", to_date(col("date_key").cast("string"),
          "yyyyMMdd")))
      val asOfCol = date_add(lit(asOf(b)).cast("date"), 1)
      val (dupes, rows) = QualitySuite.violationCount(spark, tables,
        UniqueRule("fact_weather", Seq("date_key", "location_key")), asOfCol)
      o.obs("fact_rows") = rows
      o.obs("unique_violations") = dupes
      o.obs("range_violations") = QualitySuite.violationCount(spark, tables,
        RangeRule("fact_weather", "temp_max_c", -50, 60, "error"), asOfCol)._1
      o.obs("stale") = QualitySuite.violationCount(spark, tables,
        FreshnessRule("fact_weather", "obs_date", 1), asOfCol)._1
    }
  }

  /** Partition directory → its data file names. */
  private def partitionFiles(path: String): Map[String, Set[String]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory && !f.getName.startsWith("."))
        Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")) Seq(f)
      else Nil
    walk(new File(path)).groupBy(_.getParent).map { case (p, fs) =>
      p -> fs.map(_.getName).toSet }
  }

  /** `sources.parse_s` and `functions.clean_s`: the batch parse and the
    * record cleaners, each forced to the `noop` sink; clean is reported
    * as self time (its run minus the parse it reads from). */
  override def probes(rec: Recorder): Unit = batches.foreach { in =>
    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    import graft.functions.RecordCleaners
    import graft.sources.{OpenMeteoSource, SoilGridsSource}
    val meteo = OpenMeteoSource.parse(
      OpenMeteoSource.read(spark, s"$in/openmeteo.jsonl"))
    val soil = SoilGridsSource.extract(
      SoilGridsSource.read(spark, s"$in/soilgrids.jsonl"))._1
    val parse = time(meteo) + time(soil)
    val clean = time(RecordCleaners.cleanWeatherData(meteo)) +
      time(RecordCleaners.cleanSoilData(soil)._1)
    rec.sample("sources.parse_s", parse)
    rec.sample("functions.clean_s", clean - parse)
  }
}

object EtlWorkload {
  /** The warehouse table schemas of `PipelineMain` (first-load shapes). */
  val DimSchema: StructType = StructType(Seq(
    StructField("location_hash", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("location_key", LongType),
    StructField("effective_date", StringType),
    StructField("is_current", BooleanType)))
  val SoilSchema: StructType = StructType(Seq(
    StructField("location_key", LongType),
    StructField("soil_texture", StringType),
    StructField("clay_content_0_5cm", DoubleType),
    StructField("sand_content_0_5cm", DoubleType),
    StructField("silt_content_0_5cm", DoubleType),
    StructField("ph_level_0_5cm", DoubleType),
    StructField("organic_carbon_0_5cm", DoubleType),
    StructField("bulk_density_0_5cm", DoubleType),
    StructField("water_capacity_0_5cm", DoubleType),
    StructField("soil_depth_cm", IntegerType),
    StructField("extraction_date", StringType),
    StructField("metadata", StringType)))
  val CropSchema: StructType = StructType(Seq(
    StructField("crop_name", StringType),
    StructField("optimal_temp_min_c", DoubleType),
    StructField("optimal_temp_max_c", DoubleType),
    StructField("water_requirement_mm_day", DoubleType),
    StructField("sunlight_hours_min", DoubleType),
    StructField("sunlight_hours_max", DoubleType),
    StructField("soil_ph_preference_min", DoubleType),
    StructField("soil_ph_preference_max", DoubleType),
    StructField("extraction_confidence", DoubleType),
    StructField("extraction_date", StringType),
    StructField("source_urls", ArrayType(StringType))))
  val CropPageSchema: StructType = StructType(Seq(
    StructField("crop_name", StringType),
    StructField("source", StringType),
    StructField("reliability", DoubleType),
    StructField("html", StringType)))
}

/** Minimal JSON writer for the runner's output files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v))
  def writeLines(path: String, vs: Seq[Any]): Unit =
    Files.writeString(Paths.get(path), vs.map(render(_) + "\n").mkString)
}
