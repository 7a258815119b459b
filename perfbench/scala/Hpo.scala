package perfbench

import graft.api.{ExperimentResult, Graft}
import graft.core._
import graft.core.HParam.DoubleParam
import graft.exec.{TrainFn, TrialContext}
import graft.optimize.{MedianStoppingRule, NewTrial, Optimizer}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one train fn call did, recorded by the train fn itself. Train fns run
  * in the driver JVM under `local[N]`, so a process-wide queue collects them. */
final case class TrainRec(trialId: String, slot: Int, startNs: Long, endNs: Long,
    stepsRun: Int, stepsPlanned: Int, params: Map[String, HV], history: Vector[(Long, Double)])

object TrainLog {
  val recs = new java.util.concurrent.ConcurrentLinkedQueue[TrainRec]()
  /** Train fn calls started in the current experiment, in start order. */
  val started = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Collect and clear the records, and restart the start counter. */
  def drain(): Seq[TrainRec] = {
    started.set(0)
    val out = mutable.ArrayBuffer.empty[TrainRec]
    var r = recs.poll()
    while (r != null) { out += r; r = recs.poll() }
    out.toSeq
  }

  /** Run `steps` sleeps of `stepMs` ms, broadcasting `metricAt(step)` after
    * each; records the call even when `DriverServer` stops it early. */
  def timedSteps(ctx: TrialContext, steps: Int, stepMs: Long)(metricAt: Int => Double): Double = {
    val t0 = System.nanoTime()
    val hist = Vector.newBuilder[(Long, Double)]
    var run = 0
    try {
      var m = Double.NaN
      for (s <- 0 until steps) {
        Thread.sleep(stepMs)
        m = metricAt(s)
        run += 1
        hist += ((s.toLong, m))
        ctx.reporter.broadcast(m, s.toLong)
      }
      m
    } finally {
      recs.add(TrainRec(ctx.trialId, ctx.partitionId, t0, System.nanoTime(), run, steps,
        ctx.params, hist.result()))
    }
  }
}

/** hpo_short_trials: the i-th train fn call of an experiment runs `steps(i)`
  * steps. Most trials last tens of ms; four long ones at fixed positions span
  * several 200 ms heartbeats. Two of those report a metric below every short
  * trial's, so the median rule stops them, and two report the best possible
  * metric and run to the end: the work per experiment is the same for every
  * seed, which only permutes the short durations and moves the optimum. */
final class ShortTrials(steps: Array[Int], ax: Double, ay: Double) extends TrainFn {
  def apply(ctx: TrialContext): Double = {
    val i = TrainLog.started.getAndIncrement() % steps.length
    val q = Hpo.LongTrials.get(i) match {
      case Some(keep) => if (keep) 1.0 else -1.0
      case None => 1.0 - (ctx.double("x") - ax) * (ctx.double("x") - ax) -
        (ctx.double("y") - ay) * (ctx.double("y") - ay)
    }
    TrainLog.timedSteps(ctx, steps(i), Hpo.StepMs)(s => q * (1.0 - math.exp(-(s + 1) / 3.0)))
  }
}

object Hpo {
  val StepMs = 5L
  val ShortTrialsBudget = 100
  /** Start positions of the long trials, and whether each one runs to the
    * end (true) or reports a metric the median rule stops (false). */
  val LongTrials: Map[Int, Boolean] = Map(10 -> false, 35 -> true, 60 -> false, 85 -> true)
  val LongSteps = 160
  /** The optimizer whose suggest latency the replay also measures over the
    * run's history: the GP fit is cubic in the history size and runs inside
    * the `DriverServer` monitor in a live experiment. */
  val ReplayModel = "gp"

  /** One timed experiment and what the benchmark observed around it. */
  final case class Experiment(result: ExperimentResult, seed: Long, startNs: Long,
      endNs: Long, recs: Seq[TrainRec])

  final case class Spec(optimizer: String, space: Searchspace, direction: Direction.Value,
      budget: Int, train: TrainFn)

  /** hpo_short_trials for `seed`: the optimum's position and the order of
    * the short trials' lengths (2..11 steps, each equally often). */
  def spec(seed: Long): Spec = {
    val r = new java.util.Random(seed)
    val (ax, ay) = (0.2 + 0.6 * r.nextDouble(), 0.2 + 0.6 * r.nextDouble())
    val short = new scala.util.Random(r)
      .shuffle((0 until ShortTrialsBudget - LongTrials.size).map(k => 2 + k % 10))
      .iterator
    val steps = Array.tabulate(ShortTrialsBudget)(i =>
      if (LongTrials.contains(i)) LongSteps else short.next())
    Spec("randomsearch", Searchspace(Seq(DoubleParam("x", 0, 1), DoubleParam("y", 0, 1))),
      Direction.Max, ShortTrialsBudget, new ShortTrials(steps, ax, ay))
  }

  def config(sp: Spec, budget: Int, seed: Long): HyperparameterOptConfig =
    HyperparameterOptConfig(numTrials = budget, optimizer = sp.optimizer,
      searchspace = sp.space, direction = sp.direction, seed = seed,
      logSink = Some((_: String, _: String) => ()))

  def runExperiment(spark: SparkSession, sp: Spec, seed: Long, index: Int, traced: Boolean): Experiment = {
    TrainLog.drain()
    val t0 = System.nanoTime()
    val expSeed = seed * 1000 + index
    val result = Graft.lagom(spark, config(sp, sp.budget, expSeed))(sp.train)
    val t1 = System.nanoTime()
    val recs = TrainLog.drain()
    if (traced) {
      val root = Spans.record(-1, "api", s"lagom#$index", t0, t1)
      // one trial span per trial id, as long as the driver-recorded
      // duration (dispatch to FINAL) and ending with the train fn; the
      // train fn span under it is user work, not exec's
      val byId = recs.map(r => r.trialId -> r).toMap
      result.trials.foreach { row =>
        byId.get(row.trial_id).foreach { r =>
          val tid = Spans.record(root, "exec", s"trial ${row.trial_id}",
            math.min(r.startNs, r.endNs - row.duration_ms * 1000000L), r.endNs)
          Spans.record(tid, "train", s"train ${row.trial_id}", r.startNs, r.endNs)
        }
      }
    }
    Experiment(result, expSeed, t0, t1, recs)
  }

  /** Output checks for one experiment; each entry is one failed check. */
  def check(spark: SparkSession, sp: Spec, e: Experiment): Seq[String] = {
    val r = e.result
    val fails = mutable.ArrayBuffer.empty[String]
    if (r.numTrials != sp.budget) fails += s"trial count ${r.numTrials} != budget ${sp.budget}"
    if (r.errored != 0) fails += s"errored ${r.errored} != 0"
    if (r.trials.map(_.trial_id).distinct.size != r.trials.size) fails += "duplicate trial ids"
    import org.apache.spark.sql.functions.{avg, max, min}
    val row = Graft.trialsDataset(spark, r).agg(max("metric"), min("metric"), avg("metric")).head()
    val (mx, mn, av) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    val (best, worst) = if (sp.direction == Direction.Max) (mx, mn) else (mn, mx)
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    if (!near(r.bestMetric, best)) fails += s"best ${r.bestMetric} != SQL $best"
    if (!near(r.worstMetric, worst)) fails += s"worst ${r.worstMetric} != SQL $worst"
    if (!near(r.avgMetric, av)) fails += s"avg ${r.avgMetric} != SQL $av"
    fails.toSeq
  }

  /** End-to-end metrics over the experiments of a run. `op_ms` is the
    * median slot gap: what dispatching one more trial costs a slot, timed by
    * the benchmark in ns (the `DriverServer`-recorded overhead below has whole-ms
    * resolution, which made its median jump between levels run to run). */
  def endToEnd(slots: Int, exps: Seq[Experiment]): Map[String, Double] = {
    val wallS = exps.map(e => (e.endNs - e.startNs) / 1e9).sum
    val trials = exps.map(_.result.numTrials).sum
    val busyS = exps.flatMap(_.recs).map(r => (r.endNs - r.startNs) / 1e9).sum
    Map(
      "work_per_s" -> trials / wallS,
      "op_ms" -> Stats.median(slotGapsMs(exps)),
      "slot_idle_frac" -> (1.0 - busyS / (slots * wallS)))
  }

  /** Time on a slot from one train fn returning to the next one starting. */
  def slotGapsMs(exps: Seq[Experiment]): Seq[Double] =
    exps.flatMap(_.recs.groupBy(_.slot).values.flatMap { rs =>
      val s = rs.sortBy(_.startNs)
      s.zip(s.drop(1)).map { case (a, b) => (b.startNs - a.endNs) / 1e6 }
    })

  /** Driver-recorded trial duration minus the train fn's own time. */
  def overheadsMs(exps: Seq[Experiment]): Seq[Double] = exps.flatMap { e =>
    val byId = e.recs.map(r => r.trialId -> r).toMap
    e.result.trials.flatMap(row => byId.get(row.trial_id)
      .map(r => row.duration_ms - (r.endNs - r.startNs) / 1e6))
  }

  /** Per-layer metrics of the `exec` and `optimize` layers. */
  def perLayer(sp: Spec, slots: Int, exps: Seq[Experiment]): Map[String, Double] = {
    val gaps = slotGapsMs(exps)
    val recs = exps.flatMap(_.recs)
    val ovh = overheadsMs(exps)
    val replay = exps.lastOption.map(e => replayMetrics(sp, e)).getOrElse(Map.empty)
    val e2e = endToEnd(slots, exps)
    Map(
      "hpo.trials_per_s" -> e2e("work_per_s"),
      "hpo.trial_overhead_ms_p50" -> Stats.median(ovh),
      "hpo.trial_overhead_ms_p95" -> Stats.quantile(ovh, 0.95),
      "exec.slot_gap_ms_p50" -> Stats.median(gaps),
      "exec.slot_gap_ms_p95" -> Stats.quantile(gaps, 0.95),
      "exec.first_dispatch_ms" -> Stats.median(exps.map(e =>
        (e.recs.map(_.startNs).min - e.startNs) / 1e6)),
      "exec.drain_ms" -> Stats.median(exps.map(e =>
        (e.endNs - e.recs.map(_.endNs).max) / 1e6)),
      "exec.steps_run_frac" -> recs.map(_.stepsRun).sum.toDouble / recs.map(_.stepsPlanned).sum,
      "exec.early_stopped_frac" ->
        exps.map(_.result.earlyStopped).sum.toDouble / exps.map(_.result.numTrials).sum) ++ replay
  }

  /** Replay the experiment's own finalized history, in finalization order,
    * through the public optimizer and early-stop APIs: suggestion i is made
    * with trials 0..i-1 finalized, as the live `DriverServer` saw it. The
    * history goes through the run's own optimizer and through
    * [[ReplayModel]]. */
  def replayMetrics(sp: Spec, e: Experiment): Map[String, Double] = {
    val byId = e.recs.map(r => r.trialId -> r).toMap
    val hist: Seq[Trial] = e.result.trials.flatMap { row =>
      byId.get(row.trial_id).map { r =>
        val t = new Trial(r.params)
        r.history.foreach { case (s, v) => t.appendMetric(s, v) }
        row.metric.foreach(t.finalize_)
        t
      }
    }
    val n = hist.size
    val wallMs = (e.endNs - e.startNs) / 1e6
    val (ownMs, _) = replay(sp.optimizer, sp, e.seed, hist)
    val (modelMs, kinds) = replay(ReplayModel, sp, e.seed, hist)
    val checkMs = (1 until n).map { i =>
      val t0 = System.nanoTime()
      MedianStoppingRule.check(Seq(hist(i)), hist.take(i), sp.direction)
      (System.nanoTime() - t0) / 1e6
    }
    def lastTenth(ms: Seq[Double]) = Stats.median(ms.drop(n - math.max(1, n / 10)))
    Map(
      "optimize.suggest_ms_p50" -> Stats.median(ownMs),
      "optimize.suggest_ms_p95" -> Stats.quantile(ownMs, 0.95),
      "optimize.suggest_share" -> ownMs.sum / wallMs,
      "optimize.gp_suggest_ms_p50" -> Stats.median(modelMs),
      "optimize.gp_suggest_ms_p95" -> Stats.quantile(modelMs, 0.95),
      "optimize.gp_suggest_ms_last" -> lastTenth(modelMs),
      "optimize.gp_suggest_share" -> modelMs.sum / wallMs,
      "optimize.model_suggest_frac" -> kinds.count(_ == "model").toDouble / math.max(1, kinds.size),
      "optimize.es_check_ms_p50" -> Stats.median(checkMs))
  }

  /** Suggestion times (ms) and sample types of `optimizer` replayed over
    * `hist`. */
  def replay(optimizer: String, sp: Spec, seed: Long, hist: Seq[Trial]): (Seq[Double], Seq[String]) = {
    val opt = Optimizer.forName(optimizer)
    Spans.around(-1, "optimize", s"replay $optimizer") { root =>
      opt.initialize(sp.space, hist.size, sp.direction, seed)
      hist.zipWithIndex.map { case (t, i) =>
        val t0 = System.nanoTime()
        val kind = opt.getSuggestion(None) match {
          case NewTrial(s) => opt.noteStarted(s); opt.noteErrored(s); s.sampleType
          case other => other.toString
        }
        val t1 = System.nanoTime()
        Spans.record(root, "optimize", s"suggest $i", t0, t1)
        // the history's trial, not the suggestion, is what finalizes next
        val done = new Trial(t.params)
        t.metricHistory.foreach(p => done.appendMetric(p.step, p.value))
        t.finalMetric.foreach(done.finalize_)
        opt.noteStarted(done); opt.noteFinalized(done)
        ((t1 - t0) / 1e6, kind)
      }.unzip
    }
  }
}
