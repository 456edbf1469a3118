package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark program: one workload, one process, one client thread, closed
  * loop. Prints human-readable lines, then one line
  * `PERFBENCH {"attempted":n,"failed":n,"metrics":{...}}` that
  * perfbench/run.py turns into the benchmark's result record.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --bench <perfbench dir>
  *        perfbench.Main --fingerprint <result dir> <out file> <row,...>
  */
object Main {
  /** Passes per run at least (a traced run alternates plain and traced
    * passes, so its two are one of each); the lookup series length of a
    * traced run.
    */
  private val MinPasses = 2
  private val MaxPasses = 40
  private val Lookups = 100
  private val SetupReps = 3
  private val LookupPass = 1000000
  /** Query rows that run a live stream, with a StreamingQueryListener
    * breakdown.
    */
  private val StreamingRows = Set("queries.e26")

  val ManyProjectsShape = MirrorShape(2, 4, 3000, 2000, 1000, 0.3)

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--fingerprint")) fingerprint(args(1), args(2), args(3))
    else {
      val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
      System.exit(run(opts))
    }

  /** Writes the expected-fingerprint file from a directory of checked
    * result parquets (one sub-directory per query row).
    */
  private def fingerprint(resultDir: String, out: String, rows: String): Unit = {
    val work = java.nio.file.Paths.get(".bench_work", "fingerprint").toAbsolutePath
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val lines = rows.split(',').toSeq.map { row =>
      val df = spark.read.parquet(s"$resultDir/$row")
      val r = df.agg(Fingerprint.columns(df).head, Fingerprint.columns(df).tail: _*).head()
      s"$row\t${r.getLong(0)}\t${r.getDecimal(1)}\toracle"
    }
    Files.writeString(java.nio.file.Paths.get(out),
      "# row\trows\thash sum\tcheck (oracle: from a result the DuckDB oracle accepted)\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  private final case class PassRec(i: Int, traced: Boolean, ok: Boolean, wallS: Double,
      startMs: Long, endMs: Long)

  def run(opts: Map[String, String]): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts.getOrElse("trace", "0") == "1"
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    val bench = java.nio.file.Paths.get(opts("bench")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Paths.deleteTree(work)
    Files.createDirectories(work)

    val tSession = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val trace = new Trace(spark, s"$workload-$seed-${if (traceMode) "traced" else "plain"}")
    val activity = new SparkActivity(spark)
    activity.install()
    val ctx = Ctx(spark, trace, work.resolve("data"), cores, seed)
    val w: Workload = workload match {
      case "recount_many_projects" => new ManyProjects(ctx, ManyProjectsShape)
      case "llm_ops_sf001" => new LlmOps(ctx, bench.resolve("data/sf0.01"),
        bench.resolve("expected/llm_ops_sf001.tsv"))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    try {
      // ---- set-up: repeatable steps SetupReps times (median), then warm-up
      val reps = (0 until SetupReps).map { r =>
        val t = System.nanoTime(); w.setupRep(r); (System.nanoTime() - t) / 1e9
      }
      System.err.println(s"[perfbench] set-up reps (s): ${reps.mkString(" ")}")
      val tWarm = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - tWarm) / 1e9
      System.err.println(s"[perfbench] warm-up $warmS s")
      val setupS = sessionS + Stats.median(reps) + warmS

      // ---- measured passes
      val op = new Ops
      val passes = mutable.ArrayBuffer.empty[PassRec]
      val t0 = System.nanoTime()
      // another pass only if one more (at the median pass time so far)
      // still ends within the measuring time
      def more: Boolean = passes.size < MaxPasses &&
        (System.nanoTime() - t0) / 1e9 + Stats.median(passes.map(_.wallS).toSeq) <= seconds
      while (passes.size < MinPasses || more) {
        val i = passes.size
        // every pass starts from the same heap state
        System.gc()
        trace.enabled = traceMode && i % 2 == 1
        trace.beginPass(i)
        val gc0 = Jvm.gcMs
        val cpu0 = Jvm.cpuNs
        Jvm.resetPeak()
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        val ok = try { w.pass(op); true } catch { case _: PassAborted => false }
        val wall = (System.nanoTime() - t) / 1e9
        val cpu = (Jvm.cpuNs - cpu0) / 1e9
        trace.add("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble)
        trace.add("jvm.heap_peak_mb", Jvm.heapPeakMb)
        trace.endPass()
        passes += PassRec(i, trace.enabled, ok, wall, startMs, System.currentTimeMillis())
        System.err.println(f"[perfbench] pass $i: $wall%.3f s, process cpu $cpu%.3f s" +
          (if (ok) "" else " FAILED"))
      }

      // ---- lookups, one at a time (traced runs only)
      trace.enabled = traceMode
      trace.beginPass(LookupPass)
      val latMs = mutable.ArrayBuffer.empty[Double]
      var rowsOut = 0L
      for (i <- 0 until (if (traceMode) Lookups else 0)) {
        val t = System.nanoTime()
        try {
          rowsOut += w.lookup(i, op)
          latMs += (System.nanoTime() - t) / 1e6
        } catch { case _: PassAborted => () }
      }
      trace.endPass()
      activity.drain()

      val okPasses = passes.filter(_.ok)
      def wallOf(ps: Iterable[PassRec]): Double =
        if (ps.isEmpty) -1.0 else Stats.median(ps.map(_.wallS).toSeq)
      val plain = okPasses.filterNot(_.traced)
      val wallS = wallOf(plain)
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      if (!traceMode) {
        metrics("wall_s") = wallS
        metrics("input_mb_per_s") = if (wallS > 0) w.inputBytes / 1e6 / wallS else -1.0
        metrics("setup_s") = setupS
      } else {
        val traced = okPasses.filter(_.traced)
        metrics ++= perLayer(trace, activity, traced.toSeq, cores, rowsOut)
        metrics("io.lookup.p50_ms") = if (latMs.isEmpty) -1.0 else Stats.quantile(latMs.toSeq, 0.5)
        metrics("io.lookup.p90_ms") = if (latMs.isEmpty) -1.0 else Stats.quantile(latMs.toSeq, 0.9)
        metrics("trace.overhead_s") = wallOf(traced) - wallS
        Files.writeString(work.resolve(s"spans-$workload-$seed.tsv"), trace.spansTsv)
      }

      println(f"workload $workload seed $seed: ${okPasses.size}/${passes.size} passes ok, " +
        f"${latMs.size} lookups ok; setup ${setupS}%.3f s (session $sessionS%.3f, " +
        f"reps ${reps.map(r => f"$r%.3f").mkString(" ")}, warm-up $warmS%.3f); " +
        f"input ${w.inputBytes / 1e6}%.3f MB per pass")
      println(s"pass walls (s): " + passes.map(p =>
        f"${p.wallS}%.3f${if (p.traced) "t" else ""}${if (p.ok) "" else "!"}").mkString(" "))
      op.errors.distinct.take(10).foreach(e => println(s"FAILED $e"))
      val failedFrac = if (op.attempted == 0) 0.0 else op.failed.toDouble / op.attempted
      println(f"failed_frac ${failedFrac}%.6f (${op.failed} of ${op.attempted} operations)")
      val json = metrics.map { case (k, v) => s""""$k":${if (v.isNaN) "-1" else v.toString}""" }
        .mkString("{", ",", "}")
      println(s"""PERFBENCH {"attempted":${op.attempted},"failed":${op.failed},"metrics":$json}""")
      if (op.failed == 0 && okPasses.nonEmpty) 0 else 1
    } finally {
      try w.close() catch { case _: Throwable => () }
      activity.uninstall()
      spark.stop()
    }
  }

  /** Per-layer metrics of the traced passes, medians over passes. */
  private def perLayer(trace: Trace, act: SparkActivity, passes: Seq[PassRec], cores: Int,
      lookupRows: Long): Map[String, Double] = {
    val ids = passes.map(_.i).toSet
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= trace.medians(ids)
    m ++= trace.layerSelfMs(ids).map { case (l, v) => s"$l.self_ms" -> v }
    m.get("cache.files_requested").foreach { req =>
      m("cache.busy_ms") = m.getOrElse("cache.corpus_ms", 0.0) + m.getOrElse("cache.project_ms", 0.0)
      m("cache.hit_ratio") = 1.0 - m.getOrElse("cache.files_fetched", 0.0) / req
    }

    val tasks = act.tasks.asScala.toSeq
    val jobs = act.jobs
    def med(f: Int => Double): Double = Stats.median(passes.map(p => f(p.i)))
    def keyed(key: String, f: Seq[SparkActivity.Task] => Double): Double =
      med(p => f(tasks.filter(t => t.pass == p && t.key == key)))
    val keys = (jobs.filter(j => ids(j.pass)).map(_.key) ++
      trace.medians(ids).keys.collect { case k if k.startsWith("loaders.") => k.split('.').take(2).mkString(".") })
      .filter(_.nonEmpty).distinct
    keys.foreach { key =>
      m(s"$key.jobs") = med(p => jobs.count(j => j.pass == p && j.key == key).toDouble)
      if (key.startsWith("queries.")) {
        m(s"$key.shuffle_mb") = keyed(key, _.map(_.shuffleWrite).sum / 1e6)
        m(s"$key.spill_mb") = keyed(key, _.map(_.spill).sum / 1e6)
      }
    }
    // whole-pass Spark counters
    def inPass(p: Int) = tasks.filter(_.pass == p)
    m("spark.jobs") = med(p => jobs.count(_.pass == p).toDouble)
    m("spark.tasks") = med(p => inPass(p).size.toDouble)
    m("spark.shuffle_write_mb") = med(p => inPass(p).map(_.shuffleWrite).sum / 1e6)
    m("spark.spill_mb") = med(p => inPass(p).map(_.spill).sum / 1e6)
    m("spark.peak_exec_mem_mb") = med(p => (0L +: inPass(p).map(_.peakMem)).max / 1048576.0)
    m("spark.executor_busy_frac") = Stats.median(passes.map(p =>
      inPass(p.i).map(_.runMs).sum / ((p.endMs - p.startMs).max(1L).toDouble * cores)))
    m("spark.no_job_ms") = Stats.median(passes.map { p =>
      val iv = jobs.filter(j => j.pass == p.i && j.endMs >= 0)
        .map(j => (j.startMs.max(p.startMs), j.endMs.min(p.endMs))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var busy = 0L; var cur = (0L, 0L)
      iv.foreach { case (s, e) =>
        if (s > cur._2) { busy += cur._2 - cur._1; cur = (s, e) }
        else cur = (cur._1, cur._2.max(e))
      }
      busy += cur._2 - cur._1
      (p.endMs - p.startMs - busy).toDouble
    })
    m("io.records_read") = med(p => inPass(p).map(_.records).sum.toDouble)
    m("io.bytes_read") = med(p => inPass(p).map(_.bytes).sum.toDouble)
    m("io.lookup.tasks") = tasks.count(t => t.pass == LookupPass).toDouble
    m("io.lookup.rows_out") = lookupRows.toDouble
    // streaming phases of the live-stream rows the workload ran, by
    // trigger start time
    val windows = trace.windows(ids)
    windows.map(_._2).distinct.filter(StreamingRows.contains).foreach { span =>
      val row = span.stripPrefix("queries.")
      val perPass = passes.map { p =>
        val w = windows.filter(x => x._1 == p.i && x._2 == span)
        val ev = act.progress.asScala.filter(e => w.exists(x => e.atMs >= x._3 && e.atMs <= x._4))
        def total(k: String) = ev.map(_.durations.getOrElse(k, 0L)).sum.toDouble
        (total("triggerExecution"), total("addBatch"), total("walCommit"))
      }
      m(s"streaming.$row.trigger_ms") = Stats.median(perPass.map(_._1))
      m(s"streaming.$row.add_batch_ms") = Stats.median(perPass.map(_._2))
      m(s"streaming.$row.wal_commit_ms") = Stats.median(perPass.map(_._3))
    }
    m.toMap
  }
}
