package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Counts and times the closed loop's ops. An op that throws is failed;
  * a check that finds a wrong answer fails the op that produced it.
  * After each op the persisted-RDD count is sampled: a cache an op
  * leaves behind would serve later ops from memory. */
final class Recorder(spark: SparkSession) {
  val latMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap()
  var attempted = 0L
  var failed = 0L
  var maxLeaked = 0
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()

  def lat(kind: String): Seq[Double] =
    latMs.get(kind).map(_.toSeq).getOrElse(Nil)

  def lats(kinds: Seq[String]): Seq[Double] = kinds.flatMap(lat)

  def op[T](kind: String)(body: => T): Option[T] = {
    Trace.op += 1
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(Trace.span(s"op.$kind", "bench")(body))
      catch {
        case NonFatal(e) =>
          fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    if (r.isDefined)
      latMs.getOrElseUpdate(kind, mutable.ArrayBuffer()) +=
        (System.nanoTime() - t0) / 1e6
    maxLeaked = math.max(maxLeaked, spark.sparkContext.getPersistentRDDs.size)
    r
  }

  /** A wrong answer: counts `n` ops as failed. */
  def fail(msg: String, n: Long = 1L): Unit = {
    failed += n
    if (errors.size < 20) errors += msg.take(400)
    System.err.println(s"[graftbench] FAILED $msg".take(600))
  }
}
