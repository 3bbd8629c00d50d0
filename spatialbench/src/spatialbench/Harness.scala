package spatialbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.transformer.BroadcastSpatialJoin

/** What the checks found for one query: the order-independent checksum of
  * its result, and every problem (empty when the answer is right). */
final case class Verdict(checksum: String, problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** One timed query: wall and process-CPU seconds, the transform() call, and
  * (when traced) its spans and Spark listener record. */
final case class QueryRun(wallS: Double, cpuS: Double, transformS: Double, planS: Double,
    verdict: Verdict, spark: Map[String, Double], self: Map[String, Double])

/**
 * Set-up, query and checks for one workload at one seed, shared by the
 * benchmark run and its self-test. The join runs through the public
 * `BroadcastSpatialJoin` transformer over parquet inputs, the external side
 * registered as a catalog view, as a user would call it.
 */
final class Harness(val w: Workload, val seed: Long, dataDir: String, val cores: Int) {
  val ExternalView = "bench_external"
  val SampleProbes = 64

  var spark: SparkSession = _
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  // --- the benchmark's own answer ------------------------------------------

  val oracle = new Oracle(w, seed)
  lazy val expectedCount: Long = oracle.exactCount()
  val sampleIds: Seq[Long] = {
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    var k = 0
    while (ids.size < math.min(SampleProbes, w.probes)) {
      ids += (Rng.u(seed, 99L, k, 0) * w.probes).toLong
      k += 1
    }
    ids.toSeq
  }
  lazy val expectedSample: Map[Long, Seq[(Long, Int)]] =
    sampleIds.map(i => i -> oracle.expectedRows(i)).toMap

  // --- session and inputs ---------------------------------------------------

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"spatialbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dataDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dataDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  def probePath: String = s"$dataDir/probe"
  def externalPath: String = s"$dataDir/external"

  /** Generates both sides from the seed in parallel, writes them as
    * multi-file parquet and registers the external side as a view. */
  def writeInputs(): Unit = {
    val gen = Workloads.Gen(w, seed)
    val sc = spark.sparkContext
    val probeRows = sc.range(0, w.probes, 1, w.probeFiles).map { i =>
      val (x, y) = gen.probe(i); Row(i, x, y)
    }
    spark.createDataFrame(probeRows, StructType(Seq(StructField("id", LongType, false),
      StructField("lon", DoubleType, false), StructField("lat", DoubleType, false))))
      .write.mode("overwrite").parquet(probePath)
    val extRows = sc.range(0, w.external, 1, w.externalFiles)
    val ext =
      if (w.zones) spark.createDataFrame(extRows.map(j => Row(j, gen.zoneWkt(j))),
        StructType(Seq(StructField("zid", LongType, false), StructField("wkt", StringType, false))))
      else spark.createDataFrame(extRows.map { j => val (x, y) = gen.externalPoint(j); Row(j, x, y) },
        StructType(Seq(StructField("sid", LongType, false),
          StructField("slon", DoubleType, false), StructField("slat", DoubleType, false))))
    ext.write.mode("overwrite").parquet(externalPath)
    spark.read.parquet(externalPath).createOrReplaceTempView(ExternalView)
  }

  def probeDF: DataFrame = spark.read.parquet(probePath)

  /** The workload's query: a fresh transformer and a fresh plan per call. */
  def transform(input: DataFrame = probeDF): DataFrame = {
    val t = new BroadcastSpatialJoin()
      .setDataset(ExternalView)
      .setBroadcast(w.broadcast)
      .setPredicate(w.predicate)
      .setInputPoint("lon, lat")
      .setDataColumns(w.extIdCol)
    if (w.zones) t.setDatasetWKT("wkt") else t.setDatasetPoint("slon, slat")
    if (w.distance) t.setDistColAlias("dist")
    t.transform(input)
  }

  /** Drops what the previous query left behind, as `graft.Bench` does:
    * persisted snapshots, the cache, then a GC. */
  def isolate(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    System.gc()
  }

  // --- checks -----------------------------------------------------------------

  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val h = F.xxhash64(df.columns.toIndexedSeq.map(F.col): _*)
    (df.observe(obs, F.count(F.lit(1)).as("rows"),
      F.sum(h.bitwiseAND(F.lit(0xffffffffL))).as("lo"), F.bit_xor(h).as("x")), obs)
  }

  private def verdictOf(obs: Observation, reference: Option[String]): Verdict = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val checksum = f"${Option(m("lo")).fold(0L)(_.asInstanceOf[Long])}%x:${Option(m("x")).fold(0L)(_.asInstanceOf[Long])}%016x"
    val problems = Seq(
      if (rows != expectedCount) Some(s"row count $rows, expected $expectedCount") else None,
      reference.filter(_ != checksum).map(r => s"checksum $checksum, expected $r")).flatten
    Verdict(checksum, problems)
  }

  /** The warm-up query: the same transformer over the sampled probes only
    * (each probe's rows depend on that probe alone), its rows compared with
    * the brute-force answer. */
  def warmup(perturb: DataFrame => DataFrame = identity, beforeCheck: () => Unit = () => ()): Verdict = {
    val cols = Seq(F.col("id"), F.col(w.extIdCol), if (w.distance) F.col("dist") else F.lit(0))
    val got = perturb(transform(probeDF.where(F.col("id").isin(sampleIds: _*))))
      .select(cols: _*).collect()
      .map(r => (r.getLong(0), (r.getLong(1), if (r.isNullAt(2)) -1 else r.getInt(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted }
    beforeCheck()
    val problems = sampleIds.flatMap { i =>
      val g = got.getOrElse(i, Nil)
      val e = expectedSample(i)
      val ok = if (w.isNearest) g.size == 1 && e.contains(g.head) else g == e.sorted
      if (ok) None else Some(s"probe $i: got ${g.mkString(" ")}, expected ${e.mkString(" ")}")
    }
    Verdict("", problems.take(3) ++
      (if (problems.size > 3) Seq(s"... ${problems.size} sampled probes wrong") else Nil))
  }

  /** One timed query, from the transform() call until the noop sink has
    * consumed the last row, checked against the exact count and, when
    * given, the `reference` checksum. With a tracer, records its spans and
    * the listener's view of its jobs. */
  def timedQuery(reference: Option[String], perturb: DataFrame => DataFrame = identity,
      tracer: Option[Tracer] = None, traceId: String = ""): QueryRun = {
    isolate()
    val listener = tracer.map { _ =>
      val l = new QueryListener; spark.sparkContext.addSparkListener(l); l
    }
    val q0 = tracer.fold(0.0)(_.nowMs)
    val cpu0 = cpuNs
    val t0 = System.nanoTime()
    var transformS = 0.0; var planS = 0.0
    var tWin = (q0, q0); var pWin = (q0, q0)
    val result = try {
      val df = perturb(transform())
      transformS = (System.nanoTime() - t0) / 1e9
      for (tr <- tracer) {
        tWin = (q0, tr.nowMs)
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan
        planS = (System.nanoTime() - p0) / 1e9
        pWin = (tWin._2, tr.nowMs)
      }
      val (odf, obs) = observed(df)
      odf.write.format("noop").mode("overwrite").save()
      Right(obs)
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpuNs - cpu0) / 1e9
    val q1 = tracer.fold(0.0)(_.nowMs)
    val verdict = result match {
      case Right(obs) => verdictOf(obs, reference)
      case Left(err) => Verdict("", Seq(err))
    }
    var sparkM = Map.empty[String, Double]
    var selfM = Map.empty[String, Double]
    for (tr <- tracer; l <- listener) {
      // stage and task events arrive asynchronously: drain before reading
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      val root = tr.add(traceId, 0, "query", "bench", q0, q1)
      val kids = Seq(
        tr.add(traceId, root.id, "transformer.transform", "transformer", tWin._1, tWin._2),
        tr.add(traceId, root.id, "transformer.plan", "transformer", pWin._1, pWin._2))
      val tS = kids.find(_.name == "transformer.transform")
      val jobSpans = l.synchronized(l.jobs.toSeq).map { j =>
        val parent = tS.filter(t => j.start >= t.start && j.end <= t.end).fold(root.id)(_.id)
        (j, tr.add(traceId, parent, s"job ${j.id}", "spark.job", j.start, j.end))
      }
      val stageSpans = l.synchronized(l.stages.toSeq).map { s =>
        val parent = jobSpans.find(_._1.stageIds.contains(s.id)).fold(root.id)(_._2.id)
        tr.add(traceId, parent, s"stage ${s.id} ${s.name}", "spark.stage", s.start, s.end)
      }
      val all = Seq(root) ++ kids ++ jobSpans.map(_._2) ++ stageSpans
      def childrenOf(s: Span) = all.filter(_.parent == s.id)
      selfM = all.groupBy(_.layer).map { case (layer, ss) =>
        layer -> ss.map(s => Intervals.selfTime(s, childrenOf(s))).sum / 1e3 }
      sparkM = sparkMetrics(l, wallS, q0, q1)
    }
    QueryRun(wallS, cpuS, transformS, planS, verdict, sparkM, selfM)
  }

  private def sparkMetrics(l: QueryListener, wallS: Double, q0: Double, q1: Double): Map[String, Double] =
    l.synchronized {
      val t = l.tasks.toSeq
      val runS = t.map(_.runMs).sum / 1e3
      val longest = if (l.stages.isEmpty) None else Some(l.stages.maxBy(s => s.end - s.start))
      val skew = longest.map { s =>
        val d = t.filter(_.stage == s.id).map(_.durMs.toDouble).sorted
        if (d.isEmpty) 1.0 else d.last / math.max(d(d.length / 2), 1.0)
      }.getOrElse(1.0)
      val stageCover = Intervals.unionLength(
        l.stages.toSeq.map(s => (s.start.toDouble, s.end.toDouble)), q0, q1) / 1e3
      Map(
        "spark.jobs" -> l.jobs.size.toDouble,
        "spark.stages" -> l.stages.size.toDouble,
        "spark.tasks" -> t.size.toDouble,
        "spark.driver_gap_s" -> (wallS - stageCover),
        "spark.executor_run_s" -> runS,
        "spark.executor_cpu_s" -> t.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> t.map(_.gcMs).sum / 1e3,
        "spark.core_util" -> runS / (wallS * cores),
        "spark.shuffle_write_mb" -> t.map(_.shuffleWrite).sum / 1e6,
        "spark.shuffle_read_mb" -> t.map(_.shuffleRead).sum / 1e6,
        "spark.spill_mb" -> t.map(_.diskSpill).sum / 1e6,
        "spark.peak_exec_mem_mb" -> (if (t.isEmpty) 0.0 else t.map(_.peakMem).max / 1e6),
        "spark.task_skew" -> skew)
    }
}
