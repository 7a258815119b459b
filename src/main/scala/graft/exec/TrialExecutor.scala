package graft.exec

import graft.core.HV

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.util.concurrent.atomic.AtomicReference

/** Raised by [[Reporter.broadcast]] when the driver flagged this trial for
  * early stop (reference: EarlyStopException, maggy/core/exceptions.py). */
final class EarlyStopException(val lastMetric: Double) extends RuntimeException("early stop")

/** Executor→driver metric reporter (reference: maggy/core/reporter.py).
  * Thread-safe buffer between the user train fn and the heartbeat thread;
  * `broadcast` validates monotone steps and raises when stopped; `log`
  * buffers lines the heartbeat thread ships to the driver's per-trial log
  * files (reference: reporter.py:137-170). */
final class Reporter(trialId: String, sink: (Long, Double) => Unit = (_, _) => ()) {
  private[exec] val latest = new AtomicReference[Option[(Long, Double)]](None)
  private[exec] val logQueue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private[exec] var stopFlag = false
  @volatile private var lastStep = -1L

  def broadcast(metric: Double, step: Long): Unit = {
    if (step <= lastStep)
      throw new IllegalArgumentException(s"step $step must be > previous step $lastStep")
    lastStep = step
    latest.set(Some((step, metric)))
    // driver-local experiments (MllibLagom) record history directly; the
    // executor path ships it over the heartbeat channel instead
    sink(step, metric)
    if (stopFlag) throw new EarlyStopException(metric)
  }
  def log(msg: String): Unit = logQueue.add(msg)

  /** Attach a NON-DRIVING metric to this trial (reference: the extra keys of
    * a dict-returning train fn, util.py:159-199 handle_return_val persists
    * the full return dict per trial). Ships as a `metric <k>=<v>` line on
    * the log channel; the driver parses it back into the trial's `extras`
    * map, which lands in hparams.jsonl and result.json. */
  def logMetric(key: String, value: Double): Unit = {
    require(!key.contains("=") && !key.contains("\n"),
      s"metric key must not contain '=' or newline: '$key'")
    log(s"metric $key=$value")
  }
  def id: String = trialId
}

/** What a user train function sees for one trial. */
final case class TrialContext(
    trialId: String,
    params: Map[String, HV],
    budget: Option[Double],
    partitionId: Int,
    reporter: Reporter) {
  def double(name: String): Double = params(name).asDouble
  def long(name: String): Long = params(name) match {
    case HV.L(v) => v
    case other => other.asDouble.toLong
  }
  def string(name: String): String = params(name) match {
    case HV.S(s) => s
    case other => other.jsonRender
  }
}

/** User-supplied train function (reference: black-box train fn with kwargs
  * injection, maggy/core/executors/trial_executor.py:166-179 — a SAM trait
  * needs no reflection). Must be Serializable: it ships in the task closure. */
trait TrainFn extends Serializable {
  def apply(ctx: TrialContext): Double
}

/** One request/response RPC channel with reconnect-and-retry ≤3 (reference:
  * maggy/core/rpc.py:41,676-688). */
private[exec] final class RpcChannel(host: String, port: Int, secret: String) {
  private var sock: Socket = _
  private var in: DataInputStream = _
  private var out: DataOutputStream = _
  connect()

  private def connect(): Unit = {
    sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    in = new DataInputStream(sock.getInputStream)
    out = new DataOutputStream(sock.getOutputStream)
  }

  def request(fields: Map[String, String]): Map[String, String] = synchronized {
    var attempts = 0
    while (true) {
      try {
        Wire.send(out, fields + ("secret" -> secret))
        return Wire.recv(in)
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          if (attempts > 3) throw e
          try connect() catch { case _: Throwable => Thread.sleep(500) }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def close(): Unit = synchronized { if (sock != null) sock.close() }
}

/** A slot's heartbeat thread, one for the slot's life (reference
  * rpc.py:716-737 client heartbeat thread). While a trial runs it streams
  * the reporter's latest (step, metric) every `intervalMs`, honours STOP
  * replies and ships buffered log lines. [[begin]] restarts the interval, so
  * a trial's first heartbeat comes one interval after its train fn starts.
  * A beat is sent while holding this object's monitor, so [[end]] returns
  * only once no heartbeat of the ended trial is in flight. */
private[exec] final class Heartbeat(ch: RpcChannel, intervalMs: Long, partitionId: Int) {
  private var current: Reporter = _ // guarded by this
  private var dueNs = 0L
  private var closed = false
  private val thread = new Thread(() => loop(), s"graft-hb-$partitionId")
  thread.setDaemon(true)
  thread.start()

  def begin(r: Reporter): Unit = synchronized {
    current = r
    dueNs = System.nanoTime() + intervalMs * 1000000L
    notifyAll()
  }

  def end(): Unit = synchronized { current = null }

  def close(): Unit = synchronized { closed = true; current = null; notifyAll() }

  /** Send the buffered log lines of `r` (reference reporter.py:137-170). */
  def drainLogs(r: Reporter): Unit = {
    var line = r.logQueue.poll()
    while (line != null) {
      ch.request(Map("type" -> MsgType.Log, "trial_id" -> r.id, "text" -> line))
      line = r.logQueue.poll()
    }
  }

  private def loop(): Unit = synchronized {
    try {
      while (!closed) {
        val leftMs = (dueNs - System.nanoTime() + 999999L) / 1000000L
        if (current == null) wait()
        else if (leftMs > 0) wait(leftMs)
        else {
          current.latest.get().foreach { case (step, value) =>
            val r = ch.request(Map(
              "type" -> MsgType.Metric, "trial_id" -> current.id,
              "step" -> step.toString, "value" -> value.toString))
            if (r("type") == MsgType.Stop) current.stopFlag = true
          }
          drainLogs(current)
          dueNs = System.nanoTime() + intervalMs * 1000000L
        }
      }
    } catch { case _: InterruptedException => }
  }
}

/** The long-lived per-partition executor loop (reference:
  * maggy/core/executors/trial_executor.py:35-213): register, GET the first
  * assignment, then run trials until GSTOP. Each FINAL's reply is the next
  * assignment, so a slot turns over in one round trip; an IDLE reply means
  * the driver held the request parked for a while and nothing freed up, so
  * the loop asks again at once.
  */
object TrialExecutor {

  /** Best-effort slot release: re-register the partition so the driver
    * frees any trial lost with it. Spark task retry produces this signal
    * implicitly (the retried task's REG); a thread-pool launcher whose slot
    * died for good must emit it manually or the lost trial stays Running
    * and the experiment never completes. */
  def releaseSlot(host: String, port: Int, secret: String, partitionId: Int): Unit =
    try {
      val ch = new RpcChannel(host, port, secret)
      try ch.request(Map("type" -> MsgType.Reg, "partition" -> partitionId.toString))
      finally ch.close()
    } catch { case _: Throwable => () }

  def run(
      partitionId: Int,
      host: String,
      port: Int,
      secret: String,
      hbIntervalMs: Long,
      trainFn: TrainFn): Unit = {

    val main = new RpcChannel(host, port, secret)
    val hb = new RpcChannel(host, port, secret)
    val heartbeat = new Heartbeat(hb, hbIntervalMs, partitionId)
    val partition = "partition" -> partitionId.toString
    try {
      main.request(Map("type" -> MsgType.Reg, partition))
      var resp = main.request(Map("type" -> MsgType.Get, partition))
      while (resp("type") != MsgType.GStop) resp = resp("type") match {
        case MsgType.Idle => main.request(Map("type" -> MsgType.Get, partition))
        case MsgType.Trial =>
          val trialId = resp("trial_id")
          val params = ParamsCodec.decode(resp)
          val budget = resp.get("budget").filter(_.nonEmpty).map(_.toDouble)
          val reporter = new Reporter(trialId)
          val ctx = TrialContext(trialId, params, budget, partitionId, reporter)
          var earlyStopped = false
          var errored = false
          heartbeat.begin(reporter)
          val metric =
            try trainFn(ctx)
            catch {
              case es: EarlyStopException => earlyStopped = true; es.lastMetric
              case _: Throwable =>
                // a throwing train fn fails ONE trial, not the executor:
                // report ERROR and keep pulling (the driver drops the trial
                // from the busy store; reference maggy/core/rpc.py:415-437)
                errored = true; Double.NaN
            }
          heartbeat.end()
          // buffered logs land in the per-trial log file before FINAL; the
          // last point rides on FINAL itself, so the finalized history ends
          // at the last broadcast step
          heartbeat.drainLogs(reporter)
          val last = reporter.latest.get().map { case (step, value) =>
            Map("last_step" -> step.toString, "last_value" -> value.toString)
          }.getOrElse(Map.empty)
          main.request(Map(
            "type" -> MsgType.Final, partition, "trial_id" -> trialId,
            "value" -> metric.toString,
            "early_stopped" -> earlyStopped.toString,
            "error" -> errored.toString) ++ last)
        case MsgType.Err =>
          throw new IllegalStateException(s"driver rejected message: $resp")
      }
    } finally {
      heartbeat.close()
      main.close()
      hb.close()
    }
  }
}
