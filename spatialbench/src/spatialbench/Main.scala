package spatialbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class Args(workload: String = "", seed: Long = Main.DefaultSeed, seconds: Double = 10,
    trace: Boolean = false, selfTest: Boolean = false, out: String = ".bench_out",
    data: String = ".bench_build/data", setups: Int = Main.SetupReps, fork: String = "")

/**
 * Spatial-join benchmark: `--workload <name> --seed <n> --seconds <s>
 * --trace <0|1> [--setups n] [--fork k] [--out dir] [--data dir]`, or
 * `--self-test`. One JVM; `run.py` pools the result files of several
 * (`--fork k` names the file `...-fork<k>.json`).
 *
 * Untraced (`--trace 0`) it reports the end-to-end metrics; traced it
 * reports the per-layer metrics, keeps spans in memory and writes them to
 * `<out>/<workload>-seed<n>-spans.json` at the end. Every query's output
 * is checked; the last stdout line is the JSON result and the exit code is
 * non-zero if any answer was wrong or any query failed.
 */
object Main {
  val DefaultSeed = 20261017L
  val SetupReps = 3
  val MinQueries = 3
  val Warmups = 2

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args())
    val code =
      try if (a.selfTest) SelfTest.run(a) else run(a)
      catch {
        case e: Throwable =>
          System.err.println(s"spatialbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def parse(xs: List[String], a: Args): Args = xs match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--setups" :: v :: t => parse(t, a.copy(setups = v.toInt))
    case "--fork" :: v :: t => parse(t, a.copy(fork = v))
    case "--self-test" :: t => parse(t, a.copy(selfTest = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument `$x`")
  }

  def cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(a: Args): Int = {
    val w = Workloads.byName(a.workload)
    val h = new Harness(w, a.seed, a.data, cores)
    val problems = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def record(v: Verdict): Unit = {
      attempted += 1
      if (!v.ok) { failed += 1; problems ++= v.problems }
    }

    // the benchmark's own answer, computed beside the first set-up; time
    // spent waiting for it is not set-up time
    val oracle = scala.concurrent.Future {
      val c0 = System.nanoTime()
      h.expectedCount
      h.expectedSample
      (System.nanoTime() - c0) / 1e9
    }(scala.concurrent.ExecutionContext.global)
    var oracleWaitS = 0.0
    def awaitOracle(): Unit = if (!oracle.isCompleted) {
      val c0 = System.nanoTime()
      scala.concurrent.Await.ready(oracle, scala.concurrent.duration.Duration.Inf)
      oracleWaitS += (System.nanoTime() - c0) / 1e9
    }

    // set-up: session start, input generation and the warm-up query (the
    // sampled probes, checked by brute force), repeated
    val phases = ArrayBuffer.empty[Seq[Double]]
    val setups = (1 to a.setups).map { _ =>
      h.stopSession()
      val t0 = System.nanoTime()
      h.startSession()
      val t1 = System.nanoTime()
      h.writeInputs()
      val t2 = System.nanoTime()
      val wait0 = oracleWaitS
      val v = h.warmup(beforeCheck = () => awaitOracle())
      val t3 = System.nanoTime()
      record(v)
      phases += Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
      (t3 - t0) / 1e9 - (oracleWaitS - wait0)
    }
    val expected = h.expectedCount
    val oracleS = scala.concurrent.Await.result(oracle, scala.concurrent.duration.Duration.Inf)
    val env = environment(h)

    // one untimed query over all probes: its row count is checked against
    // the exact count, its checksum becomes the reference every timed query
    // must reproduce, and it lets the JIT reach the full-size hot loops
    val first = h.timedQuery(None)
    record(first.verdict)
    val reference = Some(first.verdict.checksum).filter(_ => first.verdict.ok)

    // warm-up before timing: a fixed number of full queries, so the timed
    // queries follow the same amount of JIT work on a fast or a slow host
    val jit = ManagementFactory.getCompilationMXBean
    val warmups = ArrayBuffer.empty[(Double, Double)]
    while (reference.nonEmpty && warmups.size < Warmups) {
      val j0 = jit.getTotalCompilationTime
      val r = h.timedQuery(reference)
      record(r.verdict)
      warmups += ((r.wallS, (jit.getTotalCompilationTime - j0) / 1e3))
    }

    // timed queries, a fresh plan each; traced runs alternate traced and
    // untraced queries, so the overhead of tracing is measured in-run
    val tracer = new Tracer
    val runs = ArrayBuffer.empty[(QueryRun, Boolean)]
    val jitS = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val minQ = if (a.trace) 4 else MinQueries
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (reference.nonEmpty &&
        (elapsed < a.seconds || (runs.size < minQ && elapsed < 3 * a.seconds + 30))) {
      val traced = a.trace && runs.size % 2 == 0
      val j0 = jit.getTotalCompilationTime
      val r = h.timedQuery(reference,
        tracer = if (traced) Some(tracer) else None, traceId = s"q${runs.size}")
      jitS += (jit.getTotalCompilationTime - j0) / 1e3
      record(r.verdict)
      runs += ((r, traced))
    }
    val ok = runs.filter(_._1.verdict.ok)
    def rowsPerS(rs: Seq[(QueryRun, Boolean)]) = rs.map(r => w.probes / r._1.wallS)

    val metrics: Seq[(String, Double, String, Int)] =
      if (!a.trace) Seq(
        ("rows_per_s", median(rowsPerS(ok.toSeq)), "1/s", ok.size),
        ("cpu_s", median(ok.map(_._1.cpuS).toSeq), "s", ok.size),
        ("setup_s", median(setups), "s", setups.size))
      else {
        val tr = ok.filter(_._2).map(_._1).toSeq
        val untr = ok.filterNot(_._2)
        val layers = new Layers(h, tracer).measure(expected)
        def med(k: String, from: QueryRun => Map[String, Double]) =
          median(tr.map(r => from(r).getOrElse(k, 0.0)))
        Seq(
          ("transformer.transform_s", median(tr.map(_.transformS)), "s", tr.size),
          ("transformer.plan_s", median(tr.map(_.planS)), "s", tr.size)) ++
          layers.map { case (k, v) => (k, v, unitOf(k), 1) } ++
          QueryListenerMetrics.map(k => (k, med(k, _.spark), unitOf(k), tr.size)) ++
          Seq("bench" -> "trace.query_self_s", "transformer" -> "trace.transformer_self_s",
            "spark.job" -> "trace.job_self_s", "spark.stage" -> "trace.stage_self_s").map {
            case (layer, k) => (k, med(layer, _.self), "s", tr.size)
          } ++
          Seq(("trace.overhead", median(rowsPerS(untr.toSeq)) / median(rowsPerS(ok.filter(_._2).toSeq)),
            "ratio", tr.size))
      }
    val errorRate = failed.toDouble / math.max(attempted, 1)

    metrics.foreach { case (k, v, u, n) => println(f"metric $k%-28s $v%14.6f $u%-6s n=$n") }
    println(f"metric ${"error_rate"}%-28s $errorRate%14.6f ratio  n=$attempted")
    problems.distinct.take(10).foreach(p => println(s"WRONG $p"))

    val info = Seq(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "error_rate" -> errorRate, "attempted" -> attempted, "failed" -> failed,
      "problems" -> problems.distinct.take(20).toSeq,
      "expected_rows" -> expected, "matches_per_probe" -> expected.toDouble / w.probes,
      "reference_checksum" -> reference.getOrElse(""), "reference_query_s" -> first.wallS,
      "oracle_s" -> oracleS,
      "oracle_wait_s" -> oracleWaitS, "setup_phases_session_inputs_warmup_s" -> phases.toSeq,
      "setup_s_samples" -> setups, "query_wall_s_samples" -> runs.map(_._1.wallS).toSeq,
      "query_cpu_s_samples" -> runs.map(_._1.cpuS).toSeq, "query_jit_s_samples" -> jitS.toSeq,
      "warmup_wall_s_samples" -> warmups.map(_._1).toSeq, "warmup_jit_s_samples" -> warmups.map(_._2).toSeq,
      "query_traced" -> runs.map(_._2).toSeq, "query_ok" -> runs.map(_._1.verdict.ok).toSeq,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u, n) =>
        k -> Json.Raw(Json.obj("median" -> v, "unit" -> u, "n" -> n)) }: _*)),
      "environment" -> Json.Raw(Json.obj(env: _*)))
    Files.createDirectories(Paths.get(a.out))
    val tag = s"${a.out}/${w.name}-seed${a.seed}"
    write(s"$tag-trace${if (a.trace) 1 else 0}${if (a.fork.isEmpty) "" else "-fork" + a.fork}.json",
      Json.obj(info: _*))
    if (a.trace) write(s"$tag-spans.json", tracer.toJson)
    println("info " + Json.obj(env: _*))
    h.stopSession()

    val correct = failed == 0 && reference.nonEmpty
    println(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u, _) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }: _*))))
    if (correct) 0 else 1
  }

  val QueryListenerMetrics: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.core_util", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.peak_exec_mem_mb", "spark.task_skew")

  /** Unit of a per-layer metric, from its name's suffix. */
  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_ns")) "ns" else if (k.endsWith("_us")) "us"
    else if (k.endsWith("_mb")) "MB" else if (k.endsWith("_deg")) "deg"
    else if (Set("plans.build_rows", "spark.jobs", "spark.stages", "spark.tasks")(k)) "count"
    else "ratio"

  /** Host and run facts a reader needs to weigh the numbers. */
  private def environment(h: Harness): Seq[(String, Any)] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val sizeOf = (p: String) => Files.walk(Paths.get(p)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).map(Files.size).toSeq
    val probeFiles = sizeOf(h.probePath); val extFiles = sizeOf(h.externalPath)
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> h.cores,
      "load1" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "java" -> System.getProperty("java.version"), "spark" -> h.spark.version,
      "seed" -> h.seed, "probe_rows" -> h.w.probes, "external_rows" -> h.w.external,
      "probe_files" -> probeFiles.size, "probe_bytes" -> probeFiles.sum,
      "external_files" -> extFiles.size, "external_bytes" -> extFiles.sum,
      "probe_partitions" -> h.probeDF.rdd.getNumPartitions,
      "external_partitions" -> h.spark.table(h.ExternalView).rdd.getNumPartitions,
      "shuffle_partitions" -> h.spark.conf.get("spark.sql.shuffle.partitions"),
      "broadcast" -> h.w.broadcast, "predicate" -> h.w.predicate,
      "probe_layout" -> h.w.probeLayout.describe, "external_layout" -> h.w.externalLayout.describe)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8))
}

/**
 * Shows that the checks catch a wrong answer: on each workload cut to 4000
 * probes, a clean run must pass and each deliberately perturbed result
 * (a dropped row, a changed value, a wrong sampled row) must be flagged.
 */
object SelfTest {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.{functions => F}

  def run(a: Args): Int = {
    val cases = Workloads.all.map(_.name).map { n =>
      new Harness(Workloads.byName(n).withProbes(4000), a.seed, a.data, Main.cores)
    }
    var bad = 0
    def expect(what: String, v: Verdict, shouldPass: Boolean): Unit = {
      val good = v.ok == shouldPass
      if (!good) bad += 1
      println(s"${if (good) "ok  " else "FAIL"} $what: " +
        (if (v.ok) "passed" else s"flagged (${v.problems.head})"))
    }
    cases.foreach { h =>
      val n = h.w.name
      h.startSession()
      try {
        h.writeInputs()
        expect(s"$n clean warm-up", h.warmup(), shouldPass = true)
        val clean = h.timedQuery(None).verdict
        expect(s"$n clean timed query", clean, shouldPass = true)
        val ref = Some(clean.checksum)
        expect(s"$n clean timed query, same checksum", h.timedQuery(ref).verdict, shouldPass = true)
        // a sampled probe that has rows in the result
        val victim = h.expectedSample.collectFirst { case (i, rows) if rows.nonEmpty => i }.get
        val extCol = h.w.extIdCol
        val wrongRow: DataFrame => DataFrame = _.withColumn(extCol,
          F.when(F.col("id") === victim, F.col(extCol) + 1).otherwise(F.col(extCol)))
        expect(s"$n dropped row", h.timedQuery(ref,
          perturb = _.where(F.col("id") =!= victim)).verdict, shouldPass = false)
        expect(s"$n changed value, same count", h.timedQuery(ref, perturb = wrongRow).verdict,
          shouldPass = false)
        expect(s"$n wrong sampled row (brute-force check)", h.warmup(perturb = wrongRow),
          shouldPass = false)
      } finally h.stopSession()
    }
    println(if (bad == 0) "self-test passed" else s"self-test FAILED: $bad case(s)")
    if (bad == 0) 0 else 1
  }
}
