package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.{DerivedTable, Versioned}

/** Each incremental-maintenance action evaluates its bounded delta
  * once: the changelog nets a copy-on-write rewrite in one signed
  * pass, the join-view refresh derives its slice once, and the
  * overlapped tombstone write never leaks into the stage listing. */
class DeltaOnceSpec extends SparkSpec {
  private val work = "target/tmp/delta-once-spec"

  private def fresh(name: String): String = {
    val t = s"$work/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    t
  }

  /** Multiset of (row, change type, version) as sorted strings. */
  private def bag(df: DataFrame): Seq[String] = df.collect()
    .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("readChanges nets rewrites exactly like the two-direction " +
      "exceptAll: duplicates, nulls, identical updates, compaction") {
    import spark.implicits._
    val t = fresh("netting")
    // ONE file holding duplicate identical rows and null-bearing rows
    Versioned.commit(Seq[(Long, Option[String], Option[Double])](
      (1L, Some("a"), Some(1.0)), (1L, Some("a"), Some(1.0)),
      (2L, None, None), (3L, Some("c"), None), (4L, Some("d"), Some(4.0)),
      (5L, None, Some(5.0)), (5L, None, Some(5.0)))
      .toDF("k", "s", "d").coalesce(1), t)
    // v2 upsert: key 4 updated to IDENTICAL values, key 3 changed, key
    // 6 new — the file rewrite carries keys 1, 2, 5 unchanged
    Versioned.upsert(spark, t, Seq[(Long, Option[String], Option[Double])](
      (4L, Some("d"), Some(4.0)), (3L, Some("C"), None), (6L, None, None))
      .toDF("k", "s", "d"), "k")
    // v3 merge: both copies of key 1 deleted, both copies of key 5
    // updated, a duplicated unmatched source row inserted twice
    Versioned.mergeInto(spark, t,
      Seq((1L, "del"), (5L, "upd"), (9L, "ins"), (9L, "ins"))
        .toDF("sk", "op"),
      on = col("__t.k") === col("__s.sk"),
      matched = Seq(
        Versioned.MergeDelete(Some(col("__s.op") === "del")),
        Versioned.MergeUpdate(Some(col("__s.op") === "upd"),
          Seq("s" -> lit("E")))),
      notMatched = Seq(Versioned.MergeInsert(None,
        Seq("k" -> col("__s.sk")))))
    // v4 compaction re-homes every row
    Versioned.compact(spark, t)
    assert(Versioned.currentVersion(spark, t) == 4)

    // the old definition over whole snapshots — for copy-on-write
    // commits without tombstones the carried files cancel, so this is
    // the per-file two-direction exceptAll readChanges used to run
    def oldEvents(v: Int): DataFrame = {
      val a = Versioned.read(spark, t, Some(v))
      val b = Versioned.read(spark, t, Some(v - 1))
      a.exceptAll(b).withColumn(Versioned.ChangeTypeCol, lit("insert"))
        .unionByName(b.exceptAll(a)
          .withColumn(Versioned.ChangeTypeCol, lit("delete")))
        .withColumn(Versioned.CommitVersionCol, lit(v))
    }
    (2 to 4).foreach { v =>
      assert(bag(Versioned.readChanges(spark, t, v - 1, v)) ==
        bag(oldEvents(v)), s"v=$v")
    }
    assert(bag(Versioned.readChanges(spark, t, 1, 4)) ==
      bag((2 to 4).map(oldEvents).reduce(_.unionByName(_))))
    // the expected shapes, spelled out
    def events(v: Int) = Versioned.readChanges(spark, t, v - 1, v)
      .groupBy(Versioned.ChangeTypeCol, "k").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(events(2) == Map(("delete", 3L) -> 1L, ("insert", 3L) -> 1L,
      ("insert", 6L) -> 1L))
    assert(events(3) == Map(("delete", 1L) -> 2L, ("delete", 5L) -> 2L,
      ("insert", 5L) -> 2L, ("insert", 9L) -> 2L))
    assert(Versioned.readChanges(spark, t, 3, 4).isEmpty,
      "a compaction nets to zero events")
  }

  test("refreshJoin derives the re-derived slice exactly once") {
    import spark.implicits._
    val fact = fresh("slice-fact")
    val dim = fresh("slice-dim")
    val dst = fresh("slice-dst")
    Versioned.commit((1L to 60L).map(k => (k, k % 5, k * 10))
      .toDF("k", "fk", "v"), fact, statsCols = Seq("k"))
    Versioned.commit((0L to 4L).map(d => (d, s"label$d"))
      .toDF("dk", "label"), dim)
    // every evaluation of the transform's output counts its rows: a
    // slice derived once adds exactly its row count
    val evals = spark.sparkContext.longAccumulator("slice-evals")
    val seen = udf { (_: Long) => evals.add(1L); true }
      .asNondeterministic()
    def view(f: DataFrame, d: DataFrame): DataFrame =
      f.join(d, f("fk") === d("dk"))
        .filter(seen(f("k")))
        .select(f("k"), f("v"), d("label"))
    DerivedTable.refreshJoin(spark, fact, dim, dst, "k", "fk", "dk",
      view)
    // a fact-only delta (the dim leg stays idle): three updates, two
    // deletes — five re-derived keys, three of them with an output row
    Versioned.applyChanges(spark, fact,
      upserts = Seq((3L, 1L, 999L), (17L, 2L, 999L), (42L, 0L, 999L))
        .toDF("k", "fk", "v"),
      deleteKeys = Seq(8L, 50L).toDF("k"), key = "k",
      statsCols = Seq("k"))
    evals.reset()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    DerivedTable.refreshJoin(spark, fact, dim, dst, "k", "fk", "dk",
      view)
    assert(evals.value == 3L,
      s"the slice was evaluated ${evals.value / 3.0} times")
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst),
      view(Versioned.read(spark, fact), Versioned.read(spark, dim))))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the persisted slice is released")
  }

  test("an in-flight tombstone part file never reaches the stats " +
      "harvest; the commit still overlaps it") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.hold.impl", classOf[HoldRemoteFs].getName)
    val local = new java.io.File(fresh("held-tombstone")).getAbsoluteFile
    val t = "hold:" + local.getPath
    Versioned.commit((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1), t, statsCols = Seq("k"))
    // the upsert rewrites the file and the delete keys ride the same
    // commit as an overlapped tombstone write, held open until the
    // commit writes its next stage sidecar: the stats harvest lists
    // the stage while the tombstone's attempt file exists
    HoldRemoteFs.arm()
    val v = try Versioned.applyChanges(spark, t,
        upserts = Seq((5L, "new")).toDF("k", "v"),
        deleteKeys = Seq(7L, 9L).toDF("k"), key = "k",
        statsCols = Seq("k"))
      finally HoldRemoteFs.disarm()
    assert(HoldRemoteFs.listedWhileHeld,
      "the harvest listing must have run while the tombstone was open")
    assert(v == 2)
    val rows = Versioned.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 38 && rows(5L) == "new" &&
      !rows.contains(7L) && !rows.contains(9L))
    // every stats row names a data file of the snapshot
    val statFiles = Versioned.statsTable(spark, t).select("file")
      .distinct().collect().map(_.getString(0)).toSet
    assert(statFiles.nonEmpty && statFiles.forall(f =>
      !f.contains("_deletes") && !f.contains("_temporary")), statFiles)
  }

  test("a failed commit cancels and awaits its tombstone write before " +
      "dropping the stage") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.hold.impl", classOf[HoldRemoteFs].getName)
    val local = new java.io.File(fresh("failed-tombstone")).getAbsoluteFile
    val t = "hold:" + local.getPath
    Versioned.commit((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1), t, statsCols = Seq("k"))
    // the stage sidecar write after the harvest fails while the
    // tombstone write is still open
    HoldRemoteFs.arm(failSidecar = true)
    val e = try intercept[java.io.IOException](
        Versioned.applyChanges(spark, t,
          upserts = Seq((5L, "new")).toDF("k", "v"),
          deleteKeys = Seq(7L).toDF("k"), key = "k",
          statsCols = Seq("k")))
      finally HoldRemoteFs.disarm()
    assert(e.getMessage.contains("injected"))
    assert(HoldRemoteFs.tombstoneClosed,
      "the tombstone write finished before the commit unwound")
    assert(!local.listFiles().exists(_.getName.startsWith(".stage-")),
      "no stage litter")
    assert(Versioned.currentVersion(spark, t) == 1)
    assert(Versioned.read(spark, t).count() == 40)
  }

  test("Overlap.concurrently2/3 keep each leg's type") {
    val (n, s) = graft.tools.Overlap.concurrently2(
      () => 41 + 1, () => "leg")
    assert(n == 42 && s == "leg")
    val (a, b, c) = graft.tools.Overlap.concurrently3(
      () => 1L, () => Seq(2), () => Row(3))
    assert(a == 1L && b == Seq(2) && c.getInt(0) == 3)
  }
}

/** A non-`file` scheme over local disk (like [[MockRemoteFs]]) that,
  * once armed, HOLDS the commit protocol's tombstone write open: the
  * attempt file under a stage's `_deletes/_temporary` is created (and
  * so visible to listings) but its close waits until the committer
  * writes its next stage sidecar, and the stage listing waits until
  * the attempt file exists. That pins the interleaving the async
  * tombstone write allows: the stats harvest lists the stage while a
  * tombstone part file is in flight. */
class HoldRemoteFs extends org.apache.hadoop.fs.LocalFileSystem(
    new HoldRawFs) {
  override def getScheme: String = "hold"

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val p = f.toUri.getPath
    val stageSidecar = f.getParent.getName.startsWith(".stage-")
    if (HoldRemoteFs.armed && stageSidecar &&
        HoldRemoteFs.held.getCount == 0) {
      HoldRemoteFs.release.countDown()
      if (HoldRemoteFs.failSidecar)
        throw new java.io.IOException("injected sidecar failure")
    }
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    if (!(HoldRemoteFs.armed && p.contains("/_deletes/_temporary/") &&
        p.endsWith(".parquet"))) out
    else {
      HoldRemoteFs.held.countDown()
      new FSDataOutputStream(new java.io.OutputStream {
        override def write(b: Int): Unit = out.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          out.write(b, off, len)
        override def flush(): Unit = out.flush()
        override def close(): Unit = {
          HoldRemoteFs.release.await(30, TimeUnit.SECONDS)
          out.close()
          HoldRemoteFs.tombstoneClosed = true
        }
      }, null)
    }
  }

  override def listFiles(f: Path, recursive: Boolean)
      : org.apache.hadoop.fs.RemoteIterator[
        org.apache.hadoop.fs.LocatedFileStatus] = {
    if (HoldRemoteFs.armed && f.getName.startsWith(".stage-") &&
        HoldRemoteFs.held.await(30, TimeUnit.SECONDS) &&
        HoldRemoteFs.release.getCount > 0)
      HoldRemoteFs.listedWhileHeld = true
    super.listFiles(f, recursive)
  }
}

class HoldRawFs extends MockRawFs {
  override def getUri: java.net.URI = java.net.URI.create("hold:///")
}

object HoldRemoteFs {
  @volatile var armed = false
  @volatile var failSidecar = false
  @volatile var held = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  @volatile var listedWhileHeld = false
  @volatile var tombstoneClosed = false

  def arm(failSidecar: Boolean = false): Unit = {
    held = new CountDownLatch(1)
    release = new CountDownLatch(1)
    listedWhileHeld = false
    tombstoneClosed = false
    this.failSidecar = failSidecar
    armed = true
  }

  def disarm(): Unit = {
    armed = false
    release.countDown()
  }
}
