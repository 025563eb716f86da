package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One call of one key: build (the query function), plan
  * (`executedPlan`) and execute (the full result into the noop sink),
  * each timed from outside. `stage` is setup, timed, untraced or traced.
  * `phaseMs` holds each phase's wall-clock window in epoch ms, the clock
  * Spark stamps its job events with. */
final case class Call(
    key: String, stage: String, error: Option[String],
    buildS: Double, planS: Double, execS: Double, wallS: Double,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    phaseMs: Map[String, (Long, Long)]) {
  def ok: Boolean = error.isEmpty
}

/** One pass: every key of the workload once, in a seeded order. */
final case class Pass(
    wallS: Double, calls: Seq[Call], fimi: Storage.FimiScan,
    trace: Option[PassTrace])

/** Closed-loop benchmark client. Usage (run.py passes all of these):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --sf <dir> --cores <n> --run-dir <dir> --reference <file>
  * }}}
  * Prints one line per metric with its unit and sample count, then, as
  * the last line, the result JSON. Exits 1 when a key call fails, a
  * result fingerprint mismatches the reference or a trace check fails. */
object Main {
  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      sf: String, cores: Int, runDir: File, reference: File)

  /** Set-ups per run; `setup_s` is their median, `cold_start_s` the first
    * counted from JVM start. */
  val Setups = 3
  /** Seconds of untimed warm passes before the timed ones: after the
    * set-ups the JIT is still compiling driver and Catalyst paths, and
    * passes kept getting faster for the first seconds. */
  val WarmupS = 2.0
  /** Largest change of the second-half pass median against the first half
    * that is not flagged as drift: the end-to-end bound in BENCHMARK.json. */
  val DriftBound = 0.25
  /** Share of key wall time that build + plan + exec may leave unaccounted. */
  val UnaccountedTolerance = 0.05

  private def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--") && i + 1 < args.length, s"unexpected argument $a")
      m(a.drop(2)) = args(i + 1); i += 2
    }
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("sf"), need("cores").toInt, new File(need("run-dir")),
      new File(need("reference")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def say(s: String): Unit = { println(s"[perfbench] $s"); Console.flush() }

  private def session(o: Opts): SparkSession = {
    val s = graft.EngineConf.tune(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.runDir, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.runDir, "warehouse").getAbsolutePath))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"

  /** Runs one key under the job groups `<key>/build|plan|exec`, with the
    * same span in the local property [[Trace.SpanProperty]], which the
    * threads a phase starts inherit. Returns the result frame (for the
    * untimed fingerprint) when the call passed. */
  def runKey(spark: SparkSession, sf: String, key: String, stage: String): (Call, Option[DataFrame]) = {
    val sc = spark.sparkContext
    val query = graft.SparkEntry.queries(key)
    var phase = ""
    var phaseStartMs = 0L
    val windows = mutable.Map.empty[String, (Long, Long)]
    def enter(next: String): Unit = {
      val now = System.currentTimeMillis()
      if (phase.nonEmpty) windows(phase) = (phaseStartMs, now)
      phase = next
      phaseStartMs = now
      if (next.nonEmpty) {
        sc.setJobGroup(s"$key/$next", key)
        sc.setLocalProperty(Trace.SpanProperty, s"$key/$next")
      }
    }
    var df: DataFrame = null
    var phases = Map.empty[String, Double]
    val t0 = System.nanoTime()
    var tb, tp, te = t0
    enter("build")
    val error =
      try {
        df = query(spark, sf)
        tb = System.nanoTime()
        enter("plan")
        df.queryExecution.executedPlan
        tp = System.nanoTime()
        // read before the write: the write command shares this tracker
        phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        enter("exec")
        df.write.format("noop").mode("overwrite").save()
        te = System.nanoTime()
        None
      } catch { case NonFatal(e) => Some(s"$phase: ${firstLine(e)}") }
      finally {
        enter("")
        sc.clearJobGroup()
        sc.setLocalProperty(Trace.SpanProperty, null)
      }
    val t1 = System.nanoTime()
    def s(a: Long, b: Long): Double = math.max(b - a, 0L) / 1e9
    val call = Call(key, stage, error, s(t0, tb), s(tb, tp), s(tp, te), s(t0, t1),
      phases.getOrElse("analysis", 0.0), phases.getOrElse("optimization", 0.0),
      phases.getOrElse("planning", 0.0), windows.toMap)
    error.foreach(e => say(s"error $stage $key $e"))
    (call, if (error.isEmpty) Some(df) else None)
  }

  def run(o: Opts): Int = {
    val keys = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${o.workload}; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val missing = keys.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"keys not in SparkEntry.queries: ${missing.mkString(", ")}")
    require(new File(o.sf).isDirectory, s"no data directory ${o.sf}")

    val indexDir = new File(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_INDEX_DIR must name a run-private directory")))
    val workDir = new File(sys.props("java.io.tmpdir"), "graft_work")
    val rng = new Random(o.seed)
    val calls = ArrayBuffer.empty[Call]
    val fingerprints = mutable.Map.empty[String, String]

    var spark: SparkSession = null

    // --- timed passes
    def pass(stage: String, trace: Option[Trace]): Pass = {
      val sinceMs = System.currentTimeMillis()
      trace.foreach(_.attach())
      val t0 = System.nanoTime()
      val cs = rng.shuffle(keys).map(k => runKey(spark, o.sf, k, stage)._1)
      val wall = (System.nanoTime() - t0) / 1e9
      val pt = trace.map(_.detach())
      calls ++= cs
      val p = Pass(wall, cs, Storage.scanFimi(workDir, sinceMs), pt)
      say(f"pass $stage: wall_s $wall%.4f fimi.log_len ${p.fimi.logLen}; keys: " +
        cs.map(c => f"${c.key} ${c.wallS}%.3f").mkString(", "))
      p
    }
    /** Warm-up passes for [[WarmupS]] (at least one), then passes until
      * `seconds` have gone by and each stage ran `min` times; the stages
      * alternate so that the rest of the JIT warm-up falls on both alike. */
    def window(stages: Seq[(String, Option[Trace])], min: Int): Seq[Pass] = {
      val w0 = System.nanoTime()
      do pass("warmup", None) while ((System.nanoTime() - w0) / 1e9 < WarmupS)
      val t0 = System.nanoTime()
      val ps = ArrayBuffer.empty[Pass]
      while (ps.size < min * stages.size || (System.nanoTime() - t0) / 1e9 < o.seconds) {
        val (stage, trace) = stages(ps.size % stages.size)
        ps += pass(stage, trace)
      }
      ps.toSeq
    }

    // --- setup: session plus one cold pass with empty index and work dirs,
    // several times. Fingerprints are taken on the first cold pass,
    // outside its timer; the first set-up's end, less that time, is when
    // the process was ready.
    var coldStartS = 0.0
    val setupS = (1 to Setups).map { i =>
      if (spark != null) stop(spark)
      Storage.clear(indexDir)
      Storage.clear(workDir)
      val t0 = System.nanoTime()
      spark = session(o)
      var untimedNs = 0L
      val cold = rng.shuffle(keys).map { k =>
        val (call, df) = runKey(spark, o.sf, k, "setup")
        calls += call
        if (i == 1) {
          val f0 = System.nanoTime()
          fingerprints(k) = df.map(d =>
            try Fingerprint(d) catch { case NonFatal(e) => s"error ${firstLine(e)}" })
            .getOrElse("failed")
          untimedNs += System.nanoTime() - f0
        }
        call
      }
      val s = (System.nanoTime() - t0 - untimedNs) / 1e9
      if (i == 1)
        coldStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - untimedNs / 1e9
      say(f"setup $i: $s%.4f s; cold keys: " + cold.map(c => f"${c.key} ${c.wallS}%.3f").mkString(", "))
      s
    }

    // --- correctness: compare with the reference fingerprints
    val reference = Fingerprint.read(o.reference)
    val wrong = keys.filter(k => !reference.get(k).contains(fingerprints(k)))
    wrong.foreach(k => say(s"wrong result $k: got ${fingerprints(k)}, reference ${reference.getOrElse(k, "none")}"))

    val metrics = ArrayBuffer.empty[(String, Double, String, Int)]
    def metric(name: String, value: Double, unit: String, n: Int): Unit = {
      metrics += ((name, value, unit, n))
      say(s"metric $name $value $unit n=$n")
    }
    var checksOk = true
    def check(name: String, ok: Boolean, detail: String): Unit = {
      say(s"check $name ${if (ok) "ok" else "FAILED"} ($detail)")
      checksOk &&= ok
    }

    if (!o.trace) {
      val ps = window(Seq("timed" -> None), 2)
      val walls = ps.map(_.wallS)
      val keyS = ps.flatMap(_.calls).map(_.wallS)
      metric("setup_s", Stats.median(setupS), "s", setupS.size)
      metric("cold_start_s", coldStartS, "s", 1)
      metric("wall_s", Stats.median(walls), "s", walls.size)
      metric("key_p50_s", Stats.quantile(keyS, 0.5), "s", keyS.size)
      metric("key_p90_s", Stats.quantile(keyS, 0.9), "s", keyS.size)
      metric("cache_mb", Storage.memoBytes(spark) / 1e6 + Storage.dirBytes(indexDir) / 1e6, "MB", 1)
      if (walls.size >= 2) {
        val (a, b) = walls.splitAt(walls.size / 2)
        val d = Stats.median(b) / Stats.median(a) - 1
        say(f"drift wall_s first-half ${Stats.median(a)}%.4f second-half ${Stats.median(b)}%.4f " +
          f"(${d * 100}%+.1f%%) ${if (math.abs(d) > DriftBound) "DRIFT" else "steady"}")
      }
    } else {
      val ps = window(Seq("untraced" -> None, "traced" -> Some(new Trace(spark))), 2)
      val (traced, untraced) = ps.partition(_.trace.isDefined)
      // direct calls into the storage layers, outside every pass
      spark.sparkContext.setJobGroup("probe/load", "probe")
      val loadMs = graft.Tables.names.map { t =>
        val t0 = System.nanoTime()
        graft.Tables.load(spark, o.sf, t).schema
        (System.nanoTime() - t0) / 1e6
      }
      val resolveMs = Storage.resolveMs(spark, workDir)
      spark.sparkContext.clearJobGroup()

      def med(f: Pass => Double): Double = Stats.median(traced.map(f))
      def layer(p: Pass, l: String): Counters = p.trace.get.layers.getOrElse(l, new Counters)
      def keyLayers(p: Pass): Seq[Counters] = Trace.Phases.toSeq.map(layer(p, _))
      def sum(p: Pass)(f: Call => Double): Double = p.calls.map(f).sum
      val n = traced.size
      val mb = 1e6

      metric("tables.load_ms", Stats.median(loadMs), "ms", loadMs.size)
      metric("tables.jobs", med(p => keyLayers(p).map(_.tablesJobs).sum.toDouble), "count", n)
      metric("tables.memo_mb", Storage.memoBytes(spark) / mb, "MB", 1)
      metric("tables.index_mb", Storage.dirBytes(indexDir) / mb, "MB", 1)
      metric("tables.index_entries", Storage.indexEntries(indexDir).toDouble, "count", 1)

      metric("operators.build_s", med(sum(_)(_.buildS)), "s", n)
      metric("operators.build_jobs", med(p => layer(p, "build").jobs.toDouble), "count", n)
      metric("operators.analysis_ms", med(sum(_)(_.analysisMs)), "ms", n)

      metric("plan.optimization_ms", med(sum(_)(_.optimizationMs)), "ms", n)
      metric("plan.planning_ms", med(sum(_)(_.planningMs)), "ms", n)
      metric("plan.exchanges", med(_.trace.get.exchanges.toDouble), "count", n)

      def ex(f: Counters => Double): Double = med(p => f(layer(p, "exec")))
      metric("exec.s", med(sum(_)(_.execS)), "s", n)
      metric("exec.jobs", ex(_.jobs.toDouble), "count", n)
      metric("exec.stages", ex(_.stages.toDouble), "count", n)
      metric("exec.tasks", ex(_.tasks.toDouble), "count", n)
      metric("exec.task_s", ex(_.taskS), "s", n)
      metric("exec.cpu_s", ex(_.cpuS), "s", n)
      metric("exec.gc_s", ex(_.gcS), "s", n)
      metric("exec.fetch_wait_s", ex(_.fetchWaitS), "s", n)
      metric("exec.slot_util",
        med(p => layer(p, "exec").taskS / math.max(sum(p)(_.execS) * o.cores, 1e-9)), "ratio", n)
      metric("exec.one_task_stage_s", ex(_.oneTaskStageS), "s", n)
      metric("exec.shuffle_write_mb", ex(_.shuffleWrite / mb), "MB", n)
      metric("exec.shuffle_read_mb", ex(_.shuffleRead / mb), "MB", n)
      metric("exec.spill_mb", ex(_.spill / mb), "MB", n)
      metric("exec.input_mb", ex(_.inputBytes / mb), "MB", n)
      metric("exec.input_rows", ex(_.inputRows.toDouble), "count", n)

      metric("fimi.commits", med(_.fimi.commits.toDouble), "count", n)
      metric("fimi.data_mb", med(_.fimi.dataBytes / mb), "MB", n)
      metric("fimi.log_mb", med(_.fimi.logBytes / mb), "MB", n)
      metric("fimi.files_written", med(_.fimi.files.toDouble), "count", n)
      metric("fimi.resolve_ms", if (resolveMs.isEmpty) 0.0 else Stats.median(resolveMs), "ms", resolveMs.size)
      metric("fimi.log_len", med(_.fimi.logLen.toDouble), "count", n)

      metric("stream.batches", med(_.trace.get.streamBatches.toDouble), "count", n)
      metric("stream.batch_ms_p50", med(p => Stats.median(p.trace.get.streamBatchMs.toSeq)), "ms", n)
      metric("stream.planning_ms", med(_.trace.get.streamPlanningMs), "ms", n)
      metric("stream.wal_ms", med(_.trace.get.streamWalMs), "ms", n)
      metric("stream.state_rows", med(_.trace.get.streamStateRows.toDouble), "count", n)

      val overhead = Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS))
      // the pass timer against the phase timers: what lies outside every phase
      val unaccounted = med(p => p.wallS - sum(p)(c => c.buildS + c.planS + c.execS))
      metric("trace.overhead", overhead, "ratio", n + untraced.size)
      metric("trace.unaccounted_s", unaccounted, "s", n)

      val wall = med(_.wallS)
      check("layers_cover_wall", unaccounted <= UnaccountedTolerance * wall,
        f"pass wall minus build + plan + exec: $unaccounted%.4f s of $wall%.4f s, " +
          f"tolerance ${UnaccountedTolerance * 100}%.0f%%")
      // Spark's job clock against the phase timers: every job of a span
      // ran inside that phase of that key's call
      val jobs = traced.flatMap(p => p.trace.get.jobs.map(j => (p, j)))
      val outside = jobs.filterNot { case (p, j) =>
        val (key, phase) = j.span.splitAt(j.span.lastIndexOf('/'))
        p.calls.find(_.key == key).flatMap(_.phaseMs.get(phase.drop(1)))
          .exists { case (a, b) => a <= j.startMs && j.endMs <= b }
      }
      check("jobs_inside_phases", jobs.nonEmpty && outside.isEmpty,
        s"${jobs.size - outside.size} of ${jobs.size} jobs inside their phase window" +
          outside.take(3).map { case (_, j) => s"; ${j.span} ${j.startMs}..${j.endMs}" }.mkString)
      val other = traced.map(layer(_, "other"))
      check("no_unattributed_jobs", other.forall(c => c.jobs == 0 && c.tasks == 0),
        s"${other.map(_.jobs).sum} jobs, ${other.map(_.tasks).sum} tasks outside every key span")
      if (Workloads.storage.contains(o.workload)) {
        val batches = metrics.find(_._1 == "stream.batches").map(_._2).getOrElse(0.0)
        check("stream_batches_on_table_io", batches > 0, s"stream.batches $batches")
      } else {
        val storage = metrics.filter { case (name, v, _, _) =>
          (name.startsWith("fimi.") || name.startsWith("stream.")) && v != 0.0 }
        check("no_storage_outside_table_io", storage.isEmpty,
          if (storage.isEmpty) "fimi.* and stream.* are 0" else storage.map(_._1).mkString(", "))
      }
    }

    val attempted = calls.size
    val failed = calls.count(!_.ok)
    say(s"error_rate ${failed.toDouble / attempted} ratio n=$attempted")
    say(s"wrong_results ${wrong.size} count n=${keys.size}")
    stop(spark)

    val correct = wrong.isEmpty && failed == 0 && checksOk
    val ms = metrics.map { case (name, v, unit, _) =>
      s""""$name": {"value": ${Stats.num(v)}, "unit": "$unit"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    Console.flush()
    if (correct) 0 else 1
  }
}
