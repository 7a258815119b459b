package perfbench

import graft.MasterEnv
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: set up, run one workload as a closed loop for a
  * fixed time, check outputs, and write `result.json` into the run dir.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *   <inputs dir> <run dir> <docs> <events>
  *
  * Each unit of the loop (one `lagom` experiment, or one pass over the
  * workload's queries) starts only after the previous one returned; the loop
  * runs whole units until `seconds` have passed. With trace on, every unit is
  * traced and the run reports per-layer numbers, plus `trace.work_per_s`:
  * the end-to-end `work_per_s` measured under tracing, whose difference to
  * an untraced run's is the tracing overhead.
  */
object Harness {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputsS, runDirS, docsS, eventsS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val inputs = Paths.get(inputsS)
    val runDir = Paths.get(runDirS)
    val (docs, events) = (docsS.toLong, eventsS.toLong)
    val slots = Runtime.getRuntime.availableProcessors()
    val hpo = workload.startsWith("hpo_")

    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val loadBefore = loadavg()
    val calibFirst = calibrate()

    // set up several times and keep the last session; the reported set-up
    // time is JVM start plus the median session set-up
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = setup(workload, inputs, runDir, slots)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val sparkProbe = new SparkProbe
    spark.sparkContext.addSparkListener(sparkProbe)
    val streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var units = 0
    // wall-clock windows of the timed calls
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    var digests: Map[String, String] = Map.empty
    val loopStart = System.nanoTime()
    // every probe read below waits for the listener bus first
    def drained[T](body: => T): T = {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      body
    }
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    def more(i: Int) = i < 1 || elapsed < seconds
    Spans.on = trace

    if (hpo) {
      val sp = Hpo.spec(seed)
      val exps = mutable.ArrayBuffer.empty[Hpo.Experiment]
      while (more(units)) {
        val startMs = System.currentTimeMillis()
        val e = Hpo.runExperiment(spark, sp, seed, units, trace)
        windows += ((startMs, System.currentTimeMillis()))
        exps += e
        attempted += sp.budget
        failures ++= Hpo.check(spark, sp, e).map(f => s"experiment $units: $f")
        units += 1
      }
      e2e ++= Hpo.endToEnd(slots, exps.toSeq)
      if (trace) layer ++= Hpo.perLayer(sp, slots, exps.toSeq)
    } else {
      val storage = new DataPlane.Storage(spark)
      val oracles = graft.SparkEntry.oracleSql
      val pass = new DataPlane.Pass(spark, workload, inputs, runDir, oracles, storage)
      val ops = mutable.ArrayBuffer.empty[DataPlane.Op]
      while (more(units)) {
        val out = pass.run(units, trace)
        ops ++= out
        out.foreach(o => windows += ((o.startMs, o.endMs)))
        attempted += out.size
        units += 1
      }
      failures ++= pass.checkFailures
      digests = pass.digests.toMap
      val corpus = workload == "corpus_day_n"
      def perPass(sel: Seq[DataPlane.Op]): Seq[Double] =
        sel.groupBy(_.pass).values.map { os =>
          val wall = os.map(_.seconds).sum
          if (corpus) docs / wall
          else events * os.size / wall
        }.toSeq
      val all = ops.toSeq
      val busyMs = drained(sparkProbe.tasksIn(windows.toSeq)).map(_.runMs).sum
      e2e ++= Map(
        "work_per_s" -> Stats.median(perPass(all)),
        "op_ms" -> Stats.median(all.map(_.seconds * 1000)),
        "slot_idle_frac" -> (1.0 - busyMs.toDouble / (slots * windows.map(w => w._2 - w._1).sum)))
      if (trace) {
        def p50(names: Seq[String]) = Stats.median(all.filter(o => names.contains(o.name)).map(_.seconds))
        if (corpus) layer ++= Map(
          "corpus.docs_per_s" -> e2e("work_per_s"),
          "corpus.ann_probe_s_p50" -> p50(DataPlane.AnnProbes),
          "corpus.append_s_p50" -> p50(DataPlane.BuildsAndAppends))
        else layer ++= Map(
          "stream.rows_per_s" -> e2e("work_per_s"),
          "stream.drain_s_p50" -> p50(DataPlane.Drains))
        DataPlane.ops(workload).foreach { n =>
          layer(s"${if (corpus) "llm" else "streaming"}.${n}_s") = p50(Seq(n))
        }
        layer ++= Map(
          "data.cached_mb_peak" -> storage.peakMb,
          "data.cached_mb_after_release" -> storage.afterReleaseMb.maxOption.getOrElse(0.0),
          "data.tmp_dirs_left" -> storage.tmpDirsLeft.maxOption.getOrElse(0.0))
      }
    }
    val calibLast = calibrate()
    val loadAfter = loadavg()
    e2e("setup_s") = jvmStartS + Stats.median(setupTimes.toSeq)
    e2e("mem_peak_mb") = peakRssMb()

    if (trace) {
      layer ++= drained(sparkLayer(sparkProbe, windows.toSeq, units))
      layer ++= streamLayer(streamProbe, windows.toSeq, units)
      val self = Spans.selfSecondsByLayer
      Seq("api", "exec", "optimize", "llm", "streaming").foreach { l =>
        layer(s"trace.${l}_self_s") = self.getOrElse(l, 0.0) / units
      }
      layer("trace.work_per_s") = e2e("work_per_s")
      Spans.writeJson(runDir.resolve("spans.json"))
    }

    val machine = Map(
      "nproc" -> slots.toDouble,
      "heap_gb" -> Runtime.getRuntime.maxMemory / 1073741824.0,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "calib_first_s" -> calibFirst, "calib_last_s" -> calibLast,
      "jvm_start_s" -> jvmStartS, "units" -> units.toDouble,
      "loop_s" -> elapsed)
    def nums(m: Iterable[(String, Double)]) = Json.obj(m.map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> nums(e2e),
      "per_layer" -> nums(layer),
      "machine" -> nums(machine),
      "setup_s_each" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "digests" -> Json.obj(digests.map { case (k, v) => k -> Json.str(v) }),
      "oracle_passes" -> (0 until units).mkString("[", ",", "]"),
      "oracle_sql" -> Json.obj(
        (if (hpo) Seq.empty[String] else DataPlane.ops(workload))
          .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_))))))
    Files.writeString(runDir.resolve("result.json"), json)
    spark.stop()
  }

  /** One session set-up: build the session, run constant warm-up work, read
    * every input table once, and warm the workload's own entry point. */
  def setup(workload: String, inputs: Path, runDir: Path, slots: Int): SparkSession = {
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      Console.err.println(f"[perfbench] setup $name done at ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val spark = MasterEnv.standardBuilder(slots.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session")
    spark.range(1L << 20).selectExpr("sum(id * 3 + 1) AS s")
      .write.mode("overwrite").format("noop").save()
    phase("range job")
    Seq("documents", "embeddings", "events").foreach(t =>
      spark.read.parquet(inputs.resolve(s"$t.parquet").toString).count())
    phase("input reads")
    workload match {
      case w if w.startsWith("hpo_") =>
        val sp = Hpo.spec(0L)
        graft.api.Graft.lagom(spark, Hpo.config(sp, 2 * slots, 0L))(sp.train)
        TrainLog.drain()
      case "stream_drain" => org.rocksdb.RocksDB.loadLibrary()
      case _ =>
    }
    phase("workload warm-up")
    spark
  }

  def sparkLayer(p: SparkProbe, windows: Seq[(Long, Long)], units: Int): Map[String, Double] = {
    val ts = p.tasksIn(windows)
    val js = p.jobsIn(windows)
    val mb = 1048576.0
    Map(
      "spark.jobs" -> js.size.toDouble / units,
      "spark.stages" -> js.map(_.stages).sum.toDouble / units,
      "spark.tasks" -> ts.size.toDouble / units,
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3 / units,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / units,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3 / units,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / mb / units,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / mb / units,
      "spark.spill_mb" -> ts.map(_.spillB).sum / mb / units,
      "spark.input_mb" -> ts.map(_.inputB).sum / mb / units,
      "spark.output_mb" -> ts.map(_.outputB).sum / mb / units,
      "spark.task_ms_p50" -> Stats.median(ts.map(t => (t.finishMs - t.launchMs).toDouble)),
      "spark.task_ms_max" -> ts.map(t => (t.finishMs - t.launchMs).toDouble).maxOption.getOrElse(0.0),
      "spark.sched_wait_s" -> ts.map(_.schedDelayMs).sum / 1e3 / units,
      "spark.driver_only_s" -> p.driverOnlyMs(windows) / 1e3 / units)
  }

  def streamLayer(p: StreamProbe, windows: Seq[(Long, Long)], units: Int): Map[String, Double] = {
    val bs = p.in(windows)
    def dur(keys: String*) = bs.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum).sum.toDouble / units
    val firsts = bs.groupBy(_.runId).values.map(_.minBy(_.startMs))
      .map(_.durations.getOrElse("triggerExecution", 0L).toDouble).toSeq
    Map(
      "streaming.batches" -> bs.size.toDouble / units,
      "streaming.empty_batch_frac" ->
        (if (bs.isEmpty) 0.0 else bs.count(_.inputRows == 0).toDouble / bs.size),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit", "commitOffsets"),
      "streaming.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble / units,
      "streaming.state_rows_peak" -> bs.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mem_mb_peak" -> bs.map(_.stateMemB / 1048576.0).maxOption.getOrElse(0.0),
      "streaming.first_batch_ms" -> Stats.median(firsts))
  }

  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Constant CPU work on one thread, independent of Spark. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println(x)
    (System.nanoTime() - t0) / 1e9
  }

  /** The process's peak resident set (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
