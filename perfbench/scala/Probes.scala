package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.jdk.CollectionConverters._

/** One traced interval: a layer call made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span collector. In `local` mode train fns run in the driver JVM,
  * so one collector sees every span; spans are written out once, at run end.
  * `on` is false in untraced runs and in the untraced units of a traced run. */
object Spans {
  @volatile var on = false
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def record(parent: Int, layer: String, name: String, startNs: Long, endNs: Long): Int =
    if (!on) -1 else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, parent, layer, name, startNs, endNs))
      id
    }

  /** Time `body` as a span; the span id is reserved before the body runs so
    * children recorded inside it can name it as their parent. */
  def around[T](parent: Int, layer: String, name: String)(body: Int => T): T =
    if (!on) body(-1) else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally buf.add(Span(id, parent, layer, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  /** Self time per layer: a span's duration minus the union of its
    * children's intervals. */
  def selfSecondsByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Task and job records from a `SparkListener`. Records carry wall-clock
  * times, and each is attributed afterwards to the timed window that holds
  * its end, so checks run between windows never count. */
final class SparkProbe extends SparkListener {
  final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, schedDelayMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
      spillB: Long, inputB: Long, outputB: Long)
  final case class JobRec(startMs: Long, endMs: Long, stages: Int)

  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageInfos.size))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, n) => jobs.add(JobRec(t0, e.time, n)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val run = m.executorRunTime
      val sched = math.max(0L, info.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      tasks.add(TaskRec(info.launchTime, info.finishTime, run, m.executorCpuTime,
        m.jvmGCTime, sched,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  def tasksIn(windows: Seq[(Long, Long)]): Seq[TaskRec] =
    tasks.asScala.toSeq.filter(t => windows.exists { case (a, b) => t.finishMs >= a && t.finishMs <= b })

  def jobsIn(windows: Seq[(Long, Long)]): Seq[JobRec] =
    jobs.asScala.toSeq.filter(j => windows.exists { case (a, b) => j.endMs >= a && j.endMs <= b })

  /** Milliseconds of `windows` during which no job was running. */
  def driverOnlyMs(windows: Seq[(Long, Long)]): Long = {
    val js = jobs.asScala.toSeq
    windows.map { case (a, b) =>
      val covered = Spans.union(js.map(j => (math.max(a, j.startMs), math.min(b, j.endMs)))
        .filter { case (s, e) => e > s })
      (b - a) - covered
    }.sum
  }
}

/** Micro-batch progress from a `StreamingQueryListener`. */
final class StreamProbe extends StreamingQueryListener {
  /** `startMs` is the batch's trigger time. */
  final case class Batch(runId: String, startMs: Long, inputRows: Long, durations: Map[String, Long],
      stateCommitMs: Long, stateRows: Long, stateMemB: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches.add(Batch(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }

  def in(windows: Seq[(Long, Long)]): Seq[Batch] =
    batches.asScala.toSeq.filter(b => windows.exists { case (a, z) => b.startMs >= a && b.startMs <= z })
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}
