package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload, driven by [[Main]]:
  * `setup` (repeated, each time into a fresh directory) → `warmup` →
  * timed `step`s until the deadline → `verify`. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val rec: Recorder) {
  /** Build the workload's state under `dir` from the seed. */
  def setup(dir: String): Unit

  /** A fixed number of untimed ops, so caches fill and the JIT warms
    * before timing. */
  def warmup(): Unit

  /** One closed-loop step: one or more ops through `rec.op`. */
  def step(): Unit

  /** End-of-run correctness checks; wrong answers go to `rec.fail`. */
  def verify(): Unit

  /** Op kinds whose latencies make the workload's `op_median_ms` (and
    * the reported `op_p50_ms` / `op_p90_ms`). */
  def primaryKinds: Seq[String]

  /** The workload's own end-to-end metrics (report line). */
  def report(timedS: Double): Seq[Metric]

  /** The workload's own per-layer metrics (traced report line). */
  def layerReport(incl: Map[Int, Trace.Incl]): Seq[Metric]

  /** The table whose directory the `table.*` metrics walk. */
  def mainTable: String

  protected def abs(dir: String, name: String): String =
    new File(dir, name).getAbsolutePath

  /** A commit call in its span; traced, the table directory is walked
    * before and after, outside the span, for the files and bytes it
    * added. */
  protected def traceCommit[T](kind: String, table: String)(call: => T): T =
    if (!Trace.enabled) call
    else {
      val (f0, _, b0) = Workload.walk(table)
      val r = Trace.span(s"versioned.commit.$kind",
        "graft.sources.Versioned")(call)
      val (f1, _, b1) = Workload.walk(table)
      Trace.lastClosed.attrs("files_added") = (f1 - f0).toDouble
      Trace.lastClosed.attrs("bytes_added") = (b1 - b0).toDouble
      r
    }
}

object Workload {
  val names: Seq[String] = Seq("taxi_scan", "lake_churn", "corpus_curation")

  def apply(name: String, spark: SparkSession, seed: Long,
      rec: Recorder): Workload = name match {
    case "taxi_scan" => new TaxiScan(spark, seed, rec)
    case "lake_churn" => new LakeChurn(spark, seed, rec)
    case "corpus_curation" => new CorpusCuration(spark, seed, rec)
  }

  /** Files, metadata files (names starting `_` or `.`, or under such a
    * directory) and bytes under a table directory. */
  def walk(dir: String): (Long, Long, Long) = {
    var files, meta, bytes = 0L
    def go(f: File, inMeta: Boolean): Unit =
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach { c =>
        val m = inMeta || c.getName.startsWith("_") ||
          c.getName.startsWith(".")
        if (c.isDirectory) go(c, m)
        else {
          files += 1; bytes += c.length()
          if (m) meta += 1
        }
      }
    go(new File(dir), inMeta = false)
    (files, meta, bytes)
  }
}
