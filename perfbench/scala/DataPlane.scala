package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** corpus_day_n and stream_drain: declared queries built through
  * `SparkEntry.queries` and materialized through the `noop` sink, as
  * `graft.Bench` does. Every pass reads a fresh copy of the generated tables
  * at a new path, so no pass reuses another's path-keyed ledger, index or
  * signature store. */
object DataPlane {
  // One cold pass of these must fit a run: JIT and codegen of each new plan,
  // not corpus size, set a cold pass's time (~35 s for the corpus list and
  // ~11 s for the drains on 4 cores), so each family keeps one or two
  // queries.
  val CorpusReads = Seq("d7_contamination", "t10_repetition")
  val AnnProbes = Seq("sim_ivfpqr_ann")
  val BuildsAndAppends = Seq("sim_ivfpqr_build", "x11_ledger_build", "x11c_ledger_append")
  val Drains = Seq("st_stream_dedup", "st_stream_stream_join", "st_stream_session",
    "st_stream_tws")

  /** The workload's operations in declaration order (`SparkEntry.allEntries`),
    * the order `graft.Bench` runs them in. */
  def ops(workload: String): Seq[String] = {
    val wanted = if (workload == "corpus_day_n") CorpusReads ++ AnnProbes ++ BuildsAndAppends
      else Drains
    graft.SparkEntry.allEntries.map(_.name).filter(wanted.contains)
  }

  final case class Op(name: String, pass: Int, startMs: Long, endMs: Long, seconds: Double)

  /** One pass: copy the tables to a fresh corpus path, time each op, check
    * its output outside the timed window, release every cache. */
  final class Pass(spark: SparkSession, workload: String, inputs: Path, runDir: Path,
      oracles: Map[String, String], probe: Storage) {

    val checkFailures = mutable.ArrayBuffer.empty[String]
    val digests = mutable.LinkedHashMap.empty[String, String]

    def run(index: Int, traced: Boolean): Seq[Op] = {
      val corpus = runDir.resolve(s"corpus/pass$index")
      Files.createDirectories(corpus)
      Seq("documents", "embeddings", "events").foreach(t =>
        Files.copy(inputs.resolve(s"$t.parquet"), corpus.resolve(s"$t.parquet")))
      val d = corpus.toString
      val out = Spans.around(-1, "pass", s"$workload pass $index") { root =>
        ops(workload).map { name =>
          val layer = if (name.startsWith("st_")) "streaming" else "llm"
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val df = Spans.around(root, layer, s"$name pass $index") { _ =>
            try Some(materialize(name, d)) catch {
              case e: Throwable =>
                checkFailures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
                None
            }
          }
          val op = Op(name, index, startMs, System.currentTimeMillis(),
            (System.nanoTime() - t0) / 1e9)
          if (traced) probe.poll()
          df.foreach(checkOutput(name, _, index))
          // per-query tracked checkpoints outlive the timed window only so
          // the check can re-read the same plan
          graft.data.Frames.releaseTracked()
          // collect between queries, outside the windows, so the peak
          // resident set is what one query needs, not how much garbage the
          // earlier ones happened to leave
          System.gc()
          op
        }
      }
      release()
      probe.afterRelease(traced)
      out
    }

    private def materialize(name: String, d: String): DataFrame = {
      val df = graft.SparkEntry.queries(name)(spark, d)
      df.write.mode("overwrite").format("noop").save()
      df
    }

    /** Oracle ops land their rows for the DuckDB compare; engine-only ops
      * are digested and must repeat across passes and runs. */
    private def checkOutput(name: String, df: DataFrame, pass: Int): Unit =
      try {
        if (oracles.contains(name))
          df.write.mode("overwrite").parquet(runDir.resolve(s"checks/pass$pass/$name").toString)
        else {
          val dg = digest(df)
          digests.get(name) match {
            case Some(prev) if prev != dg => checkFailures += s"$name: digest $dg != pass-0 $prev"
            case None => digests(name) = dg
            case _ =>
          }
        }
      } catch {
        case e: Throwable => checkFailures += s"$name check: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }

    private def release(): Unit = {
      graft.llm.Dedup.releaseCaches()
      graft.llm.PqIndex.releaseModels()
      graft.streaming.Streams.releaseSinks()
      graft.ops.Scans.releaseLayouts()
      graft.data.Frames.releaseTracked()
    }
  }

  /** Order-insensitive digest of a result: rows rendered with doubles at
    * 6 decimals, sorted, hashed. */
  def digest(df: DataFrame): String = {
    def norm(v: Any): String = v match {
      case null => "<NULL>"
      case x: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(x))
      case x: Float => String.format(java.util.Locale.ROOT, "%.6f", Double.box(x.toDouble))
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "=" + norm(x) }
        .sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toSeq: _*).collect().map(norm).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Cached-block sizes and graft tmp dirs: the `data` layer's footprint. */
  final class Storage(spark: SparkSession) {
    var peakMb = 0.0
    val afterReleaseMb = mutable.ArrayBuffer.empty[Double]
    val tmpDirsLeft = mutable.ArrayBuffer.empty[Double]

    def cachedMb(): Double = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    def poll(): Unit = peakMb = math.max(peakMb, cachedMb())

    /** Record what a pass left behind after its release calls, then delete
      * the leftover dirs so the next pass starts from an empty tmpdir. */
    def afterRelease(record: Boolean): Unit = {
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val left = Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).toSeq
      if (record) {
        afterReleaseMb += cachedMb()
        tmpDirsLeft += left.size
      }
      left.foreach(Fs.deleteTree)
    }
  }
}
