package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.operators.Dedup

/** The benchmark's JVM side. One run: set up (session, function
  * registration, table warm-up, the workload's fixture), then a closed
  * loop of one client over the workload's passes: the first pass, then
  * a fixed number of whole passes sized so that the run takes about the
  * given seconds on a 4-core machine. Traced runs then add the probes. Writes
  * one JSON result file; perfbench/run.py builds, launches and reports.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --expected FILE --out FILE
  *   Main --record OUTDIR --data DIR --work DIR
  */
object Main {
  /** Percentile reported as the latency tail. At 35 seconds a run's
    * steady state is 22 (corpus_store) or 28 (pipeline) operations, so
    * fewer than ten samples lie beyond any percentile above the median;
    * p75 is the tail, reported with the sample count.
    */
  val TailPct = 0.75
  final case class Res(idx: Int, pass: Int, name: String, kind: String,
      seconds: Double, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { if (a.contains("record")) record(a) else run(a); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private val listener = new ExecListener
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session every workload runs on, registered and warmed. */
  def session(work: String, data: String, tables: Seq[String]): SparkSession = {
    val t0 = System.nanoTime()
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the UI store keeps every execution's plan, so the retained heap
      // would grow with the number of operations a run completes
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(listener)
    GraftExtensions.register(s)
    val t1 = System.nanoTime()
    tables.foreach(n => Tables.load(s, data, n).count())
    System.err.println(f"perfbench: session ${(t1 - t0) / 1e9}%.3f s, warm-up ${(System.nanoTime() - t1) / 1e9}%.3f s")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def run(a: Map[String, String]): Unit = {
    val w = Workloads.byName(a("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val seconds = a("seconds").toDouble
    val data = a("data")
    val work = a("work")
    val expected = readExpected(a("expected"))
    var spark: SparkSession = null
    val tracer = new Tracer(a("trace") == "1", () => spark.sparkContext, listener)
    val ctx = new Ctx(data, work, a("seed").toLong, tracer, expected)
    val heap = new HeapWatch

    spark = session(work, data, w.tables)
    ctx.spark = spark
    val fx0 = System.nanoTime()
    w.fixture(ctx)
    System.err.println(f"perfbench: fixture ${(System.nanoTime() - fx0) / 1e9}%.3f s")
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val results = mutable.ArrayBuffer.empty[Res]
    def runOps(n: Int, ops: Seq[Op]): Seq[Res] = {
      val from = results.size
      ops.foreach { op =>
        val idx = results.size + 1
        tracer.op = idx
        op.before()
        val t0 = System.nanoTime()
        val err = try tracer.span("op")(op.run())
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        results += Res(idx, n, op.name, op.kind, (System.nanoTime() - t0) / 1e9, err)
        op.after()
      }
      results.drop(from).toSeq
    }
    def runPass(n: Int): Unit = runOps(n, w.pass(ctx, n))

    heap.reset()
    val f0 = System.nanoTime()
    runPass(0)
    val firstPass = (System.nanoTime() - f0) / 1e9
    val retainedFirst = heap.retainedAfterFullGc()
    val s0 = System.nanoTime()
    // The pass count follows from the seconds and the workload's pass
    // times on 4 cores, not from this run's clock: every run of a
    // workload does the same work, so a slow first pass does not leave
    // fewer, colder steady passes.
    val passes = math.max(2, math.round((seconds - w.firstPassS) / w.passS).toInt)
    (1 to passes).foreach(runPass)
    val n = passes + 1
    val steadyWall = (System.nanoTime() - s0) / 1e9
    val retainedEnd = heap.retainedAfterFullGc()
    val steady = results.filter(_.pass > 0).toSeq
    val lat = steady.map(_.seconds)

    val e2e = Seq(
      ("setup_s", "s", setupS),
      ("first_pass_s", "s", firstPass),
      ("ops_per_s", "1/s", steady.size / steadyWall),
      ("latency_p50_s", "s", pct(lat, 0.5)),
      ("latency_tail_s", "s", pct(lat, TailPct)),
      ("heap_after_gc_mb", "MiB", math.max(retainedFirst, retainedEnd) / 1048576.0))
    val layers = if (tracer.on) {
      // store calls: the workload's own, else one corpus_store pass after the loop
      val storeOps = if (steady.exists(_.kind == "write")) steady else {
        CorpusStoreCycle.fixture(ctx)
        runOps(-2, CorpusStoreCycle.pass(ctx, 0))
      }
      layerMetrics(ctx, steady, storeOps, steadyWall)
    } else Nil
    val spansOut = if (tracer.on) Some(spansJson(tracer)) else None

    Dedup.unpersistAll()
    stop(spark)
    ctx.checks.foreach { case (name, err) =>
      results += Res(results.size + 1, -1, name, "check", 0.0, err)
    }

    val failures = results.filter(_.error.nonEmpty)
    val metrics = if (tracer.on) layers else e2e
    val out = Map(
      "correct" -> failures.isEmpty,
      "attempted" -> results.size,
      "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, u, v) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> Map(
        "workload" -> w.name, "seed" -> ctx.seed, "trace" -> tracer.on,
        "cores" -> cores, "spark_version" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "tail_percentile" -> TailPct,
        "failed_frac" -> failures.size.toDouble / results.size,
        "failures" -> failures.map(r => Map("op" -> r.name, "pass" -> r.pass, "error" -> r.error.get)),
        "first_pass_s" -> firstPass, "steady_wall_s" -> steadyWall,
        "passes" -> n, "steady_ops" -> steady.size,
        "heap_retained_mb" -> Seq(retainedFirst, retainedEnd).map(_ / 1048576.0),
        "heap_max_old_after_gc_mb" -> heap.maxOldAfterGcBytes / 1048576.0,
        "ops" -> results.map(r => Seq(r.pass, r.name, r.seconds, r.error.isEmpty)).toSeq))
    json.writeValue(new File(a("out")), out)
    spansOut.foreach(s => json.writeValue(new File(a("out") + ".spans.json"), s))
  }

  /** Per-layer metrics of the traced run, per steady-state op unless the
    * name says otherwise.
    */
  def layerMetrics(ctx: Ctx, steady: Seq[Res], storeOps: Seq[Res],
      wall: Double): Seq[(String, String, Double)] = {
    val tr = ctx.tracer
    val ids = steady.map(_.idx).toSet
    val nOps = math.max(1, steady.size).toDouble
    val spans = tr.spans.filter(s => ids(s.op))
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def ctr(name: String, c: String) = spans.filter(_.name == name).map(_.counters.getOrElse(c, 0.0)).sum
    val storeIds = storeOps.map(_.idx).toSet
    val storeSpans = tr.spans.filter(s => storeIds(s.op))
    def meanSecs(name: String) = {
      val xs = storeSpans.filter(_.name == name).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def storeJobs(name: String) = storeSpans.filter(_.name == name).map(_.counters("jobs")).sum
    def sampled(k: String) = ctx.samples.collect { case ((op, `k`), v) if ids(op) => v }.sum
    val first = tr.spans.filter(s => s.name == "op" && !ids(s.op))
    val opWall = secs("op")
    val writes = storeOps.filter(_.kind == "write").map(_.seconds)
    val reads = storeOps.filter(_.kind == "read").map(_.seconds)
    val commits = storeSpans.count(s => s.name == "store.append_delta" || s.name == "store.tombstone")
    val lat = steady.map(_.seconds)
    val m = Seq(
      ("trace.ops_per_s", "1/s", steady.size / wall),
      ("trace.latency_p50_s", "s", pct(lat, 0.5)),
      ("queries.build_s", "s", secs("queries.build") / nOps),
      ("queries.build_jobs", "count", ctr("queries.build", "jobs") / nOps),
      ("catalyst.optimize_s", "s", secs("catalyst.optimize") / nOps),
      ("catalyst.physical_s", "s", secs("catalyst.physical") / nOps),
      ("codegen.compiles", "count", ctr("op", "codegen_compiles") / nOps),
      ("codegen.compile_s", "s", ctr("op", "codegen_ms") / 1000 / nOps),
      ("codegen.first_pass_compiles", "count", first.map(_.counters("codegen_compiles")).sum),
      ("codegen.first_pass_compile_s", "s", first.map(_.counters("codegen_ms")).sum / 1000),
      ("exec.wall_s", "s", opWall / nOps),
      ("exec.jobs", "count", ctr("op", "jobs") / nOps),
      ("exec.stages", "count", ctr("op", "stages") / nOps),
      ("exec.tasks", "count", ctr("op", "tasks") / nOps),
      ("exec.task_run_s", "s", ctr("op", "task_run_ms") / 1000 / nOps),
      ("exec.task_cpu_s", "s", ctr("op", "task_cpu_ns") / 1e9 / nOps),
      ("exec.task_deser_s", "s", ctr("op", "task_deser_ms") / 1000 / nOps),
      ("exec.gc_s", "s", ctr("op", "gc_ms") / 1000 / nOps),
      ("exec.shuffle_write_bytes", "B", ctr("op", "shuffle_write_bytes") / nOps),
      ("exec.shuffle_read_bytes", "B", ctr("op", "shuffle_read_bytes") / nOps),
      ("exec.spill_bytes", "B", ctr("op", "spill_bytes") / nOps),
      ("exec.core_util", "ratio", if (opWall > 0) ctr("op", "task_run_ms") / 1000 / (opWall * cores) else 0.0),
      ("sources.input_bytes", "B", ctr("op", "input_bytes") / nOps),
      ("sources.files_discovered", "count", ctr("op", "files_discovered") / nOps),
      ("operators.persisted_bytes", "B", sampled("persisted_bytes") / nOps),
      ("store.append_delta_s", "s", meanSecs("store.append_delta")),
      ("store.tombstone_s", "s", meanSecs("store.tombstone")),
      ("store.maintain_s", "s", meanSecs("store.maintain")),
      ("store.jobs_per_commit", "count",
        (storeJobs("store.append_delta") + storeJobs("store.tombstone")) / commits),
      ("store.scan_s", "s", meanSecs("store.scan")),
      ("store.lookup_s", "s", meanSecs("store.lookup")),
      ("store.changes_since_s", "s", meanSecs("store.changes_since")),
      ("write_p50_s", "s", pct(writes, 0.5)),
      ("write_tail_s", "s", pct(writes, TailPct)),
      ("read_p50_s", "s", pct(reads, 0.5)),
      ("read_tail_s", "s", pct(reads, TailPct)))
    val extra = KernelProbes.run(ctx.spark, ctx.dataDir) ++ SqlGenProbe.run(ctx) ++
      CorpusStoreCycle.layerMetrics(ctx)
    m ++ probeLayerUnits.map { case (k, u) => (k, u, extra.getOrElse(k, 0.0)) }
  }

  /** Layer metrics the probes and the store model produce. */
  val probeLayerUnits: Seq[(String, String)] =
    Seq("token_shingle_hashes", "minhash_sig", "simhash64", "sorted_jaccard",
      "dot_product", "nearest_centroid", "pq_encode", "bpe_segment")
      .map(k => s"functions.$k.ns_per_row" -> "ns") ++ Seq(
      "sqlgen.to_sql_s" -> "s", "sqlgen.sql_chars" -> "count",
      "store.max_delta_chain" -> "count", "store.bytes_written" -> "B",
      "store.files_written" -> "count", "store.bytes_on_disk" -> "B",
      "write_amp" -> "ratio", "space_amp" -> "ratio")

  def spansJson(tr: Tracer): Seq[Map[String, Any]] = {
    val self = tr.selfSeconds
    tr.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> self(s.id), "counters" -> s.counters))
  }

  /** The "digests" object of expected.json: query name -> digest. */
  def readExpected(path: String): Map[String, String] =
    json.readTree(new File(path)).get("digests").properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap

  /** Dumps every relational and pipeline pool entry's output as parquet
    * with its digest, for checking against the DuckDB oracle.
    */
  def record(a: Map[String, String]): Unit = {
    val out = a("record")
    val spark = session(a("work"), a("data"), Tables.names)
    val names = Workloads.relationalPool ++ Workloads.pipelinePool
    val rows = names.map { name =>
      val df = SparkEntry.queries(name)(spark, a("data"))
      val live = Workloads.digestValue(Workloads.digestFrame(df).collect())
      val dumped = try {
        df.write.mode("overwrite").parquet(s"$out/$name")
        Workloads.digestValue(Workloads.digestFrame(spark.read.parquet(s"$out/$name")).collect())
      } catch { case e: Throwable => s"unwritable: ${e.getClass.getSimpleName}" }
      Dedup.unpersistAll()
      name -> Map("digest" -> live, "dumped_digest" -> dumped)
    }.toMap
    json.writeValue(new File(s"$out/digests.json"), rows)
    json.writeValue(new File(s"$out/oracle_sql.json"),
      SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    stop(spark)
  }
}
