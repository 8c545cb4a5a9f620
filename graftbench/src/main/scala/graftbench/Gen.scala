package graftbench

import java.sql.Timestamp
import java.time.LocalDate

/** Seeded input generators. Every value is a pure function of
  * (seed, key, stream), so the same seed gives the same inputs however
  * Spark partitions the generating job, and the benchmark can recompute
  * any row without storing it (the lake_churn model relies on that). */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for (seed, key, stream). */
  def u(seed: Long, k: Long, stream: Int): Double =
    (mix(mix(seed * 1000003L + stream) ^ k) >>> 11) * (1.0 / (1L << 53))

  def pick(seed: Long, k: Long, stream: Int, n: Int): Int =
    (u(seed, k, stream) * n).toInt

  // —— taxi_scan: TaxiEtl.schema without the derived pickup_date ——

  final case class TaxiRaw(VendorID: Int,
      tpep_pickup_datetime: Timestamp, tpep_dropoff_datetime: Timestamp,
      passenger_count: Int, trip_distance: Double,
      pickup_longitude: Double, pickup_latitude: Double, RateCodeID: Int,
      store_and_fwd_flag: String, dropoff_longitude: Double,
      dropoff_latitude: Double, payment_type: Int, fare_amount: Double,
      extra: Double, mta_tax: Double, tip_amount: Double,
      tolls_amount: Double, improvement_surcharge: Double,
      total_amount: Double)

  /** January 2015, the month of the reference's feed. */
  val TaxiEpochMs: Long = 1420070400000L
  val TaxiDays = 31

  // the passenger_count mix of the reference feed, roughly: mostly
  // single riders, a long tail up to six, a few zero-passenger trips
  private val paxCdf = Array(0.02, 0.72, 0.86, 0.90, 0.92, 0.97, 1.0)

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  def taxi(seed: Long, k: Long): TaxiRaw = {
    def v(i: Int) = u(seed, k, i)
    val pickupMs = TaxiEpochMs + (v(1) * TaxiDays * 86400000L).toLong
    val pax = { val x = v(2); paxCdf.indexWhere(x < _) }
    val dist = r2(0.3 + 12.0 * v(3) * v(3))
    val fare = r2(2.5 + 2.5 * dist + 3.0 * v(4))
    val tip = if (v(5) < 0.6) r2(fare * 0.25 * v(6)) else 0.0
    val tolls = if (v(7) < 0.05) 5.54 else 0.0
    val extra = if (v(8) < 0.3) 0.5 else 0.0
    TaxiRaw(1 + pick(seed, k, 9, 2),
      new Timestamp(pickupMs),
      new Timestamp(pickupMs + 120000L + (dist * 180000L).toLong),
      pax, dist,
      -74.0 + 0.2 * v(10), 40.6 + 0.2 * v(11), 1 + pick(seed, k, 12, 6),
      if (v(13) < 0.01) "Y" else "N",
      -74.0 + 0.2 * v(14), 40.6 + 0.2 * v(15), 1 + pick(seed, k, 16, 4),
      fare, extra, 0.5, tip, tolls, 0.3,
      r2(fare + extra + 0.5 + tip + tolls + 0.3))
  }

  // —— lake_churn: a lineitem-shaped fact keyed by l_key, and orders ——

  final case class Line(l_key: Long, l_orderkey: Long,
      l_linenumber: Int, l_quantity: Long, l_extendedprice: Double,
      l_discount: Double, l_returnflag: String, l_linestatus: String,
      l_shipdate: LocalDate, l_gen: Int)

  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderpriority: String)

  private val flags = Array("A", "N", "R")
  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val shipEpoch = LocalDate.of(1995, 1, 1)

  /** Row `k` at update generation `g`: an upsert or merge bumps the
    * generation, which redraws every non-key column. */
  def line(seed: Long, k: Long, g: Int, orders: Long): Line = {
    val s = seed ^ (g.toLong << 40)
    val qty = 1L + pick(s, k, 1, 50)
    val price = r2(qty * (900.0 + 100.0 * u(s, k, 2)))
    Line(k, (mix(seed ^ k) >>> 1) % orders, (k % 7).toInt + 1, qty, price,
      pick(s, k, 3, 11) / 100.0, flags(pick(s, k, 4, 3)),
      if (u(s, k, 5) < 0.5) "O" else "F",
      shipEpoch.plusDays(pick(s, k, 6, 2400).toLong), g)
  }

  def quantity(seed: Long, k: Long, g: Int): Long =
    1L + pick(seed ^ (g.toLong << 40), k, 1, 50)

  def returnFlag(seed: Long, k: Long, g: Int): String =
    flags(pick(seed ^ (g.toLong << 40), k, 4, 3))

  def order(seed: Long, k: Long): Order =
    Order(k, 1L + pick(seed, k, 20, 15000), if (u(seed, k, 21) < 0.5) "O"
      else "F", r2(1000.0 + 300000.0 * u(seed, k, 22)),
      priorities(pick(seed, k, 23, priorities.length)))

  // —— corpus_curation: a document stream and an embedding table ——

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  private val vocab = Array("the", "a", "and", "of", "to", "in", "is",
    "it", "spark", "table", "query", "scan", "join", "hash", "sort",
    "group", "agg", "filter", "window", "stream", "batch", "vector",
    "column", "order", "value", "key", "line", "part", "customer", "data",
    "fast", "slow", "big", "small", "index", "shuffle", "commit",
    "snapshot", "file", "page", "token", "model", "score", "rank",
    "merge", "delete", "insert", "update", "schema", "cache")
  private val langs = Array("en", "en", "en", "de", "fr", "zh")

  private def words(seed: Long, k: Long, stream: Int, n: Int): Seq[String] =
    (0 until n).map(i => vocab(pick(seed, k * 131L + i, stream,
      vocab.length)))

  /** Document `k` of the stream. About one in ten is a verbatim copy of
    * an earlier document (the near-dup index must drop it), one in ten
    * shares a 20-token span with an earlier one (the substring dedup's
    * input), and one in twenty is too short for the curation gate. */
  def doc(seed: Long, k: Long): Doc = {
    val kind = u(seed, k, 30)
    val text =
      if (k > 0 && kind < 0.10) docText(seed, (u(seed, k, 31) * k).toLong)
      else docText(seed, k)
    Doc(k, text, langs(pick(seed, k, 32, langs.length)),
      s"src${pick(seed, k, 33, 8)}", text.length.toLong)
  }

  private def docText(seed: Long, k: Long): String = {
    val kind = u(seed, k, 30)
    val n = if (kind > 0.95) 4 + pick(seed, k, 34, 5)
      else 20 + pick(seed, k, 35, 60)
    val own = words(seed, k, 36, n)
    val shared =
      if (k > 0 && kind >= 0.10 && kind < 0.20)
        words(seed, (u(seed, k, 37) * k).toLong, 38, 20)
      else Nil
    (own.take(n / 2) ++ shared ++ own.drop(n / 2)).mkString(" ")
  }

  val Dim = 64
  val Clusters = 24

  /** Embedding `k`: a unit-ish vector near one of [[Clusters]] seeded
    * centres, so the IVF-PQ probe has structure to find. */
  def vec(seed: Long, k: Long): Vec = {
    val c = pick(seed, k, 40, Clusters)
    val e = Array.tabulate(Dim) { j =>
      val centre = u(seed, c.toLong * 1000L + j, 41) * 2 - 1
      (centre + 0.35 * (u(seed, k * 1000L + j, 42) * 2 - 1)).toFloat
    }
    Vec(k, e, c)
  }
}
