package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.sources.{Etl, TaxiEtl, Versioned}

/** taxi_scan — the paper's own workload: one ETL commit of a seeded
  * taxi table, then the reference's three queries in a seeded order,
  * through the `graft` SQL catalog. */
final class TaxiScan(spark: SparkSession, seed: Long, rec: Recorder)
    extends Workload(spark, seed, rec) {
  import TaxiScan._

  private var raw = ""
  private var table = ""
  private val ingestMs = mutable.ArrayBuffer[Double]()
  // per variant: every distinct answer seen, with how many ops gave it
  private val answers =
    mutable.LinkedHashMap[Variant, mutable.Map[Seq[Answer], Long]]()
  private val scanRows = mutable.ArrayBuffer[Double]()
  private val scanFiles = mutable.ArrayBuffer[Double]()
  private var steps = 0L

  def mainTable: String = table

  def setup(dir: String): Unit = {
    import spark.implicits._
    raw = abs(dir, "raw")
    table = abs(dir, "taxi")
    val s = seed
    spark.range(0, Rows, 1, 4).as[Long].map(k => Gen.taxi(s, k))
      .write.parquet(raw)
    val t0 = System.nanoTime()
    traceCommit("etl", table) {
      Versioned.commit(
        Etl.transform(spark.read.parquet(raw), TaxiEtl.spec), table,
        partitionCol = TaxiEtl.spec.partitionCol,
        statsCols = Seq("passenger_count", "trip_distance"))
    }
    ingestMs += (System.nanoTime() - t0) / 1e6
  }

  /** The seed draws four constants for each query. */
  private lazy val variants: IndexedSeq[Variant] = {
    val pax = (0 to 6).sortBy(i => Gen.u(seed, i, 60)).take(4)
    val dist = Seq(1.5, 3.0, 5.0, 8.0)
    val q1 = pax.map(c => Variant(1,
      s"SELECT count(*) AS n FROM %s WHERE passenger_count = $c"))
    val q2 = (0 until 4).map { i =>
      val c = 1 + Gen.pick(seed, i, 61, 3)
      val d = dist(Gen.pick(seed, i, 62, dist.size))
      Variant(2, s"SELECT avg(total_amount) AS a FROM %s " +
        s"WHERE passenger_count = $c AND trip_distance < $d")
    }.distinct
    // one start day per week of the month: the seed moves each
    // constant, the scanned share of the month stays comparable
    val q3 = (0 until 4).map(w => 1 + 7 * w + Gen.pick(seed, w, 63, 7))
      .map(d => Variant(3, "SELECT passenger_count, count(*) AS n, " +
        "avg(total_amount) AS a FROM %s " +
        f"WHERE pickup_date >= '2015-01-$d%02d' " +
        "GROUP BY passenger_count ORDER BY passenger_count"))
    (q1 ++ q2 ++ q3).toIndexedSeq
  }

  private def ident = s"graft.`$table`"

  private def run(v: Variant, kind: String): Unit = rec.op(kind) {
    val df = Trace.span("versioned.read.resolve", "graft.sources.Versioned")(
      spark.sql(v.sql.format(ident)))
    val rows = Trace.span(s"taxi.q${v.q}.execute", "spark")(df.collect())
    val got = rows.toSeq.map(answerOf(v.q, _))
    val seen = answers.getOrElseUpdate(v, mutable.Map())
    seen(got) = seen.getOrElse(got, 0L) + 1L
    if (Trace.enabled && Trace.op > Trace.timedAfter) {
      val leaves = Leaves.of(df.queryExecution.executedPlan)
      def sum(m: String) = leaves.flatMap(_.metrics.get(m)).map(_.value).sum
      scanRows += sum("numOutputRows").toDouble
      scanFiles += sum("numFiles").toDouble
    }
  }

  def warmup(): Unit = variants.foreach(v => run(v, "warmup"))

  def step(): Unit = {
    val v = variants(Gen.pick(seed, steps, 64, variants.size))
    steps += 1
    run(v, s"q${v.q}")
  }

  def primaryKinds: Seq[String] = Seq("q1", "q2", "q3")

  /** Every answer against the same query by plain Spark over the
    * generator's parquet output — no graft code on this path. Counts
    * must match exactly, averages to a relative 1e-9. */
  def verify(): Unit = {
    spark.read.parquet(raw)
      .withColumn("pickup_date",
        date_format(col("tpep_pickup_datetime"), "yyyy-MM-dd"))
      .createOrReplaceTempView("taxi_oracle")
    answers.foreach { case (v, seen) =>
      val want = spark.sql(v.sql.format("taxi_oracle")).collect().toSeq
        .map(answerOf(v.q, _))
      seen.foreach { case (got, n) =>
        if (!sameAnswer(got, want))
          rec.fail(s"taxi q${v.q} `${v.sql.format("t")}`: got $got, " +
            s"want $want", n)
      }
    }
    spark.catalog.dropTempView("taxi_oracle")
  }

  def report(timedS: Double): Seq[Metric] = {
    val q = rec.lats(primaryKinds)
    Seq(Metric("ingest_s", Stats.median(ingestMs.toSeq) / 1000, "s"),
      Metric("query_p50_ms", Stats.median(q), "ms"),
      Metric("query_p90_ms", Stats.quantile(q, 0.9), "ms"))
  }

  def layerReport(incl: Map[Int, Trace.Incl]): Seq[Metric] =
    (1 to 3).map(i => Metric(s"taxi.q$i.p50_ms",
      Stats.median(rec.lat(s"q$i")), "ms")) ++ Seq(
      Metric("taxi.scan_rows_per_query", Stats.median(scanRows.toSeq),
        "rows"),
      Metric("taxi.files_read_per_query", Stats.median(scanFiles.toSeq),
        "count"))
}

object TaxiScan {
  /** Rows of the generated table: one month, ~31 pickup_date
    * partitions. */
  val Rows = 200000L

  final case class Variant(q: Int, sql: String)
  type Answer = (Long, Long, Double)

  private def answerOf(q: Int, r: Row): Answer = q match {
    case 1 => (0L, r.getLong(0), 0.0)
    case 2 => (0L, 0L, r.getDouble(0))
    case _ => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2))
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def sameAnswer(got: Seq[Answer], want: Seq[Answer]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g._1 == w._1 && g._2 == w._2 && close(g._3, w._3)
    }

  private object Leaves extends AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[SparkPlan] = collectLeaves(p)
  }
}
