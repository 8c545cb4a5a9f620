package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DerivedTable, Versioned}

/** lake_churn — small commits beside reads on one versioned table, with
  * an aggregate and a join materialized view refreshed every four
  * commits and a compaction after each refresh. Every head read lands on
  * a version the session has not read before. The benchmark replays
  * every commit on its own model (a generation per row key; each row is
  * a pure function of (seed, key, generation)), and checks reads and
  * views against it. */
final class LakeChurn(spark: SparkSession, seed: Long, rec: Recorder)
    extends Workload(spark, seed, rec) {
  import LakeChurn._

  private var fact = ""
  private var dim = ""
  private var aggMv = ""
  private var joinMv = ""
  // the model: generation and liveness per key
  private var gen = new Array[Int](0)
  private var alive = new Array[Boolean](0)
  private var nextKey = 0L
  private var liveRows = 0L
  private var liveQty = 0L
  // (rows, sum of l_quantity) at each version of the fact table
  private val atVersion = mutable.HashMap[Int, (Long, Long)]()
  private var head = 0
  private var oldestKept = 1
  private var commits = 0L

  def mainTable: String = fact

  private def qty(k: Long) = Gen.quantity(seed, k, gen(k.toInt))

  private def grow(n: Long): Unit = if (n > gen.length) {
    val cap = math.max(n, gen.length * 3L / 2).toInt
    gen = java.util.Arrays.copyOf(gen, cap)
    alive = java.util.Arrays.copyOf(alive, cap)
  }

  private def rows(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    val (s, g) = (seed, gen)
    keys.map(k => Gen.line(s, k, g(k.toInt), Orders)).toDS().toDF()
  }

  def setup(dir: String): Unit = {
    import spark.implicits._
    fact = abs(dir, "lineitem")
    dim = abs(dir, "orders")
    aggMv = abs(dir, "agg_mv")
    joinMv = abs(dir, "join_mv")
    gen = new Array[Int](0); alive = new Array[Boolean](0)
    grow(Rows)
    java.util.Arrays.fill(alive, 0, Rows.toInt, true)
    nextKey = Rows
    liveRows = Rows
    liveQty = (0L until Rows).map(qty).sum
    atVersion.clear()
    commits = 0L
    val s = seed
    Trace.span("versioned.commit.bootstrap", "graft.sources.Versioned") {
      head = Versioned.commit(spark.range(0, Rows, 1, 4).as[Long]
        .map(k => Gen.line(s, k, 0, Orders)).toDF(), fact,
        statsCols = Seq("l_key"),
        transform = Some(Versioned.Transform.Truncate(KeyRange, "l_key")))
      Versioned.commit(spark.range(0, Orders, 1, 4).as[Long]
        .map(k => Gen.order(s, k)).toDF(), dim,
        statsCols = Seq("o_orderkey"))
    }
    atVersion(head) = (liveRows, liveQty)
    oldestKept = 1
    refreshAgg()
    refreshJoin()
  }

  private def refreshAgg(): Unit =
    Trace.span("derived.refresh_agg", "graft.sources.DerivedTable") {
      DerivedTable.refreshAgg(spark, fact, aggMv, "l_key",
        Seq("l_returnflag"), "l_quantity")
    }

  private def refreshJoin(): Unit =
    Trace.span("derived.refresh_join", "graft.sources.DerivedTable") {
      DerivedTable.refreshJoin(spark, fact, dim, joinMv, "l_key",
        "l_orderkey", "o_orderkey", joinView)
    }

  /** A commit op: the engine call, then the model update when it
    * published a new version. */
  private def commit(kind: String)(call: => Int)(model: => Unit): Unit =
    rec.op(kind) {
      val v = traceCommit(kind, fact)(call)
      if (v != head) {
        model
        head = v
        atVersion(v) = (liveRows, liveQty)
      }
    }

  private def setGen(keys: Seq[Long]): Unit = keys.foreach { k =>
    val i = k.toInt
    if (alive(i)) liveQty -= qty(k) else liveRows += 1
    gen(i) += 1
    alive(i) = true
    liveQty += qty(k)
  }

  private def range(a: Long, n: Long) = a until a + n

  /** A seeded key range inside one of the initial key-range partitions,
    * so every delete, upsert and merge touches one partition's files and
    * the work per op does not depend on where the seed lands. */
  private def randomStart(span: Long, stream: Int): Long =
    Gen.pick(seed, commits, stream, (Rows / KeyRange).toInt) * KeyRange +
      Gen.pick(seed, commits, stream + 100, (KeyRange - span + 1).toInt)

  private def append(): Unit = {
    val keys = range(nextKey, Batch)
    grow(nextKey + Batch)
    commit("append")(Versioned.append(rows(keys), fact)) {
      keys.foreach { k => alive(k.toInt) = true; liveRows += 1
        liveQty += qty(k) }
      nextKey += Batch
    }
  }

  private def deleteWhere(): Unit = {
    val a = randomStart(DeleteSpan, 71)
    val pred = col("l_key") >= a && col("l_key") < a + DeleteSpan
    commit("delete_where")(Versioned.deleteWhere(spark, fact, pred)) {
      range(a, DeleteSpan).foreach { k =>
        if (alive(k.toInt)) {
          alive(k.toInt) = false; liveRows -= 1; liveQty -= qty(k)
        }
      }
    }
  }

  /** Upsert and merge rewrite the rows of a key range: live rows get a
    * new generation, rows an earlier delete removed come back. */
  private def changedKeys(stream: Int): Seq[Long] =
    range(randomStart(UpdateSpan, stream), UpdateSpan)

  private def withNextGen[T](keys: Seq[Long])(f: DataFrame => T): T = {
    keys.foreach(k => gen(k.toInt) += 1)
    val df = rows(keys)
    keys.foreach(k => gen(k.toInt) -= 1)
    f(df)
  }

  private def upsert(): Unit = {
    val keys = changedKeys(72)
    withNextGen(keys) { df =>
      commit("upsert")(Versioned.upsert(spark, fact, df, "l_key"))(
        setGen(keys))
    }
  }

  private def mergeInto(): Unit = {
    val keys = changedKeys(73)
    withNextGen(keys) { df =>
      val cols = df.columns.toSeq
      val set = cols.map(c => c -> col(s"__s.$c"))
      commit("merge_into")(Versioned.mergeInto(spark, fact, df,
        col("__t.l_key") === col("__s.l_key"),
        matched = Seq(Versioned.MergeUpdate(None,
          set.filterNot(_._1 == "l_key"))),
        notMatched = Seq(Versioned.MergeInsert(None, set))))(
        setGen(keys))
    }
  }

  private def compact(): Unit = {
    commit("compact")(Versioned.compact(spark, fact, statsCols =
      Seq("l_key")))(())
    rec.op("vacuum") {
      Trace.span("versioned.vacuum", "graft.sources.Versioned")(
        Versioned.vacuum(spark, fact, keep = Keep))
    }
    oldestKept = math.max(1, head - Keep + 1)
  }

  /** Read a version and check (rows, sum of l_quantity) against the
    * model: the head through the DataFrame API, or an earlier retained
    * version through SQL `VERSION AS OF`. */
  private def read(): Unit = {
    val sql = commits % 2 == 1
    val v = if (!sql) head else math.max(oldestKept, head - 2)
    rec.op("read") {
      val df = Trace.span("versioned.read.resolve",
        "graft.sources.Versioned") {
        if (sql) spark.sql(s"SELECT count(*), sum(l_quantity) FROM " +
          s"graft.`$fact` VERSION AS OF $v")
        else Versioned.read(spark, fact)
          .agg(count(lit(1)), sum(col("l_quantity")))
      }
      val r = Trace.span("versioned.read.execute", "spark")(df.head())
      val got = (r.getLong(0), r.getLong(1))
      if (got != atVersion(v))
        rec.fail(s"read of v$v: got $got, model ${atVersion(v)}")
    }
  }

  /** Four commits, one of each kind, each followed by a read. */
  private def commitRound(): Unit =
    Seq(() => append(), () => deleteWhere(), () => upsert(),
      () => mergeInto()).foreach { commitOp =>
      commitOp()
      read()
      commits += 1
    }

  /** One cycle: a commit round, a refresh of each view, then a
    * compaction and vacuum. The timed loop runs whole cycles, so every
    * run holds the same mix of ops whatever its length. */
  private def cycle(): Unit = {
    commitRound()
    rec.op("refresh_agg")(refreshAgg())
    rec.op("refresh_join")(refreshJoin())
    compact()
  }

  /** One append and one read: warms the commit and read paths the
    * loop shares without paying a cold commit round. */
  def warmup(): Unit = {
    append()
    read()
    commits += 1
  }

  def step(): Unit = cycle()

  def primaryKinds: Seq[String] = CommitKinds ++
    Seq("read", "refresh_agg", "refresh_join")

  /** The head against the model by an order-independent row hash, and
    * each view against a full recompute from the model. */
  def verify(): Unit = {
    import spark.implicits._
    val (s, g, al) = (seed, gen, alive)
    val model = spark.range(0, nextKey, 1, 4).as[Long]
      .filter(k => al(k.toInt)).map(k => Gen.line(s, k, g(k.toInt), Orders))
      .toDF()
    val got = rowHash(Versioned.read(spark, fact))
    val want = rowHash(model)
    if (got != want) rec.fail(s"head v$head: row hash $got, model $want")
    // the views were refreshed after the last commit round, and the
    // compaction after it changes no rows: they must equal the head
    try {
      val aggGot = Versioned.read(spark, aggMv)
        .select("l_returnflag", "sum_l_quantity", "cnt_l_quantity", "n_rows")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      val aggWant = (0L until nextKey).filter(k => al(k.toInt))
        .groupBy(k => Gen.returnFlag(s, k, g(k.toInt))).toSeq.sortBy(_._1)
        .map { case (f, ks) =>
          val q = ks.map(k => Gen.quantity(s, k, g(k.toInt))).sum
          (f, q, ks.size.toLong, ks.size.toLong)
        }
      if (aggGot != aggWant)
        rec.fail(s"agg view: got $aggGot, recompute $aggWant")
      val orders = spark.range(0, Orders, 1, 4).as[Long]
        .map(k => Gen.order(s, k)).toDF()
      val jGot = rowHash(Versioned.read(spark, joinMv))
      val jWant = rowHash(joinView(model, orders))
      if (jGot != jWant)
        rec.fail(s"join view: row hash $jGot, recompute $jWant")
    } catch {
      case e: Exception => rec.fail(s"view check: ${e.getMessage}")
    }
  }

  def report(timedS: Double): Seq[Metric] = {
    val c = rec.lats(CommitKinds)
    val compacted = abs(new java.io.File(fact).getParent, "compacted")
    Versioned.commit(Versioned.read(spark, fact), compacted)
    val ratio = Workload.walk(fact)._3.toDouble /
      Workload.walk(compacted)._3
    Seq(Metric("commit_p50_ms", Stats.median(c), "ms"),
      Metric("commit_p90_ms", Stats.quantile(c, 0.9), "ms"),
      Metric("snapshot_read_p50_ms", Stats.median(rec.lat("read")), "ms"),
      Metric("refresh_p50_ms",
        Stats.median(rec.lats(Seq("refresh_agg", "refresh_join"))), "ms"),
      Metric("stored_bytes_ratio", ratio, "ratio"))
  }

  def layerReport(incl: Map[Int, Trace.Incl]): Seq[Metric] = {
    val refreshes = Trace.timed("derived.refresh")
    CommitKinds.map(k => Metric(s"versioned.commit.ms.$k",
      Stats.median(rec.lat(k)), "ms")) ++ Seq(
      Metric("derived.refresh_agg.ms", Stats.median(rec.lat("refresh_agg")),
        "ms"),
      Metric("derived.refresh_join.ms",
        Stats.median(rec.lat("refresh_join")), "ms"),
      Metric("derived.refresh.jobs",
        Stats.median(refreshes.map(s => incl(s.id).jobs.toDouble)), "count"),
      Metric("derived.refresh.driver_gap_ms",
        Stats.median(refreshes.map(s => incl(s.id).driverGapMs)), "ms"))
  }
}

object LakeChurn {
  /** Initial fact rows (a third of sf0.1 lineitem) and dim rows. */
  val Rows = 200000L
  val Orders = 50000L
  /** Append batch: 0.5 % of the initial rows. */
  val Batch = 1000L
  /** deleteWhere key range: 1 %. */
  val DeleteSpan = 2000L
  /** upsert / mergeInto key range: 0.5 %. */
  val UpdateSpan = 1000L
  /** The fact is laid out in key ranges of this width (a hidden
    * truncate partition), so a copy-on-write upsert of a key range
    * rewrites one range's files, not the table. */
  val KeyRange = 50000
  /** Versions kept by the vacuum after each compaction: more than a
    * cycle's commits, so the views' pins and the time-travel reads
    * stay retained. */
  val Keep = 10
  val CommitKinds: Seq[String] =
    Seq("append", "delete_where", "upsert", "merge_into", "compact")

  /** The join view: each line item with its order's priority and
    * status. */
  val joinView: (DataFrame, DataFrame) => DataFrame = (f, d) =>
    f.join(d, f("l_orderkey") === d("o_orderkey"))
      .select(f("l_key"), f("l_orderkey"), f("l_quantity"),
        f("l_returnflag"), d("o_orderpriority"), d("o_orderstatus"))

  /** (rows, sum of a 64-bit hash of every column): equal for equal
    * multisets of rows, whatever their order or file layout. */
  def rowHash(df: DataFrame): (Long, BigDecimal) = {
    val cols: Seq[Column] = df.columns.sorted.toSeq.map(col)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1))
      .getOrElse(java.math.BigDecimal.ZERO)))
  }
}
