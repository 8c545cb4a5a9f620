package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.FsFast

/** The local-scheme metadata fast path ([[graft.sources.FsFast]]):
  * the commit protocol's atomicity and listing contracts must hold
  * IDENTICALLY through the nio dispatch, because the marker publish
  * and the manifest walks are built on them. */
class FsFastSpec extends SparkSpec {
  private val work = "target/tmp/fsfast-spec"

  private def fresh(name: String): (Path, org.apache.hadoop.fs.FileSystem) = {
    val p = new Path(s"$work/$name")
    val f = p.getFileSystem(new Configuration())
    f.delete(p, true)
    f.mkdirs(p)
    (p, f)
  }

  test("put(overwrite = false) is create-exclusive: second writer loses") {
    val (dir, f) = fresh("claim")
    val target = new Path(dir, "marker")
    FsFast.put(f, target, "a".getBytes, overwrite = false)
    // the atomic-claim contract: an existing target throws, content
    // of the winner is untouched
    intercept[java.io.IOException](
      FsFast.put(f, target, "b".getBytes, overwrite = false))
    val in = f.open(target)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text == "a")
    // overwrite = true replaces
    FsFast.put(f, target, "c".getBytes, overwrite = true)
    val in2 = f.open(target)
    assert((try new String(in2.readAllBytes(), "UTF-8")
      finally in2.close()) == "c")
  }

  test("a nio rewrite removes the stale Hadoop .crc twin") {
    val (dir, f) = fresh("crc")
    val target = new Path(dir, "sidecar")
    // a Hadoop (checksummed) write leaves a .crc sibling...
    val out = f.create(target, true)
    try out.write("old-content".getBytes) finally out.close()
    val crc = new java.io.File(s"$work/crc/.sidecar.crc")
    assert(crc.exists, "precondition: Hadoop write creates the crc twin")
    // ...which a later nio rewrite must remove, or a checksummed read
    // of the new content would verify against the old sums and fail
    FsFast.put(f, target, "new".getBytes, overwrite = true)
    assert(!crc.exists, "stale crc must not survive a nio rewrite")
    val in = f.open(target) // ChecksumFileSystem read path
    assert((try new String(in.readAllBytes(), "UTF-8")
      finally in.close()) == "new")
  }

  test("walkFiles matches Hadoop listFiles(recursive) on a nested tree") {
    val (dir, f) = fresh("walk")
    FsFast.put(f, new Path(dir, "a.parquet"), "x".getBytes, false)
    FsFast.put(f, new Path(dir, "sub/b.parquet"), "yy".getBytes, false)
    FsFast.put(f, new Path(dir, "sub/deep/c.txt"), "zzz".getBytes, false)
    // a raw dot-file on disk (the shape of a ChecksumFileSystem .crc
    // twin): listFiles hides it, so walkFiles must too — parity is
    // the contract, not a caller-side filter
    java.nio.file.Files.write(java.nio.file.Paths.get(
      new java.io.File(s"$dir/sub", ".b.parquet.crc").getPath),
      "c".getBytes)
    val walked = FsFast.walkFiles(f, dir)
      .map(e => (e.name, e.parentName, e.len)).toSet
    val listed = {
      val it = f.listFiles(dir, true)
      val buf = scala.collection.mutable.Set.empty[(String, String, Long)]
      while (it.hasNext) {
        val st = it.next()
        buf += ((st.getPath.getName, st.getPath.getParent.getName,
          st.getLen))
      }
      buf.toSet
    }
    assert(walked == listed)
    assert(!walked.exists(_._1.startsWith(".")))
    // missing root throws like listFiles
    intercept[java.io.FileNotFoundException](
      FsFast.walkFiles(f, new Path(dir, "nope")))
  }

  test("walkFiles skipDir prunes subtrees by relative path on both arms") {
    val (local, lf) = fresh("prune")
    val (remote, rf, _) = freshRemote("prune_remote")
    for ((dir, f) <- Seq((local, lf), (remote, rf))) {
      Seq("a.parquet", "p=1/b.parquet", "_deletes/c.parquet",
          "_deletes/_temporary/0/d.parquet", "p=1/_temporary/e.parquet",
          "q/_deletes/f.parquet")
        .foreach(r => FsFast.put(f, new Path(dir, r), "x".getBytes, false))
      val kept = FsFast.walkFiles(f, dir, skipDir = rel =>
          rel == "_deletes" || rel.split("/").contains("_temporary"))
        .map(_.name).toSet
      // only a TOP-level `_deletes` is pruned; a nested one is data
      assert(kept == Set("a.parquet", "b.parquet", "f.parquet"), dir)
    }
  }

  test("footerRowCount reads the parquet footer exactly") {
    import spark.implicits._
    val (dir, f) = fresh("footer")
    val pq = new Path(dir, "t.parquet")
    (1 to 137).toDF("x").coalesce(1).write.mode("overwrite")
      .parquet(pq.toString)
    val file = FsFast.walkFiles(f, pq)
      .filter(_.name.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    assert(FsFast.footerRowCount(f, conf, file.path) == 137L)
  }

  /** A non-`file` scheme over local disk: every helper must take the
    * `case None` Hadoop branch. */
  private def freshRemote(name: String):
      (Path, org.apache.hadoop.fs.FileSystem, Configuration) = {
    val local = new java.io.File(s"$work/$name").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(local)
    local.mkdirs()
    val conf = new Configuration()
    conf.set("fs.mock.impl", classOf[MockRemoteFs].getName)
    val dir = new Path("mock:" + local.getPath)
    val f = dir.getFileSystem(conf)
    (dir, f, conf)
  }

  test("Hadoop arm: put/walk/footer contracts hold under a non-file scheme") {
    import spark.implicits._
    val (dir, f, conf) = freshRemote("remote")
    assert(FsFast.localPath(f, dir).isEmpty,
      "a mock-scheme fs must dispatch to the Hadoop branch")
    // create-exclusive: second writer loses, winner's content intact
    val target = new Path(dir, "marker")
    FsFast.put(f, target, "a".getBytes, overwrite = false)
    intercept[java.io.IOException](
      FsFast.put(f, target, "b".getBytes, overwrite = false))
    val in = f.open(target)
    assert((try new String(in.readAllBytes(), "UTF-8")
      finally in.close()) == "a")
    FsFast.put(f, target, "c".getBytes, overwrite = true)
    // recursive walk parity with the local arm's filtered view, and
    // the listFiles FileNotFoundException contract
    FsFast.put(f, new Path(dir, "sub/deep/b.parquet"), "yy".getBytes,
      overwrite = false)
    val walked = FsFast.walkFiles(f, dir)
    assert(walked.map(_.name).toSet == Set("marker", "b.parquet"))
    assert(walked.forall(!_.name.startsWith(".")),
      "checksum twins must stay hidden on the Hadoop arm too")
    assert(walked.find(_.name == "b.parquet")
      .exists(e => e.parentName == "deep" && e.len == 2))
    intercept[java.io.FileNotFoundException](
      FsFast.walkFiles(f, new Path(dir, "nope")))
    // footerRowCount through the HadoopInputFile branch
    val pqLocal = s"$work/remote/t.parquet"
    (1 to 41).toDF("x").coalesce(1).write.mode("overwrite")
      .parquet(pqLocal)
    val pq = FsFast.walkFiles(f, new Path(dir, "t.parquet"))
      .filter(_.name.endsWith(".parquet")).head
    assert(FsFast.footerRowCount(f, conf, pq.path) == 41L)
  }

  test("Hadoop arm: a full versioned commit/read cycle on a non-file scheme") {
    import spark.implicits._
    import graft.sources.Versioned
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockRemoteFs].getName)
    val local = new java.io.File(s"$work/remote_tbl").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(local)
    val t = "mock:" + local.getPath
    // commit -> O(delta) append -> MoR delete -> compact, all through
    // the Hadoop dispatch arm: markers, manifests, sidecars, scans
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), t)
    Versioned.append(Seq((4, "d")).toDF("id", "v"), t)
    Versioned.deleteRows(spark, t, Seq(2).toDF("id"))
    assert(Versioned.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3, 4))
    // time travel still serves the pre-delete snapshot
    assert(Versioned.read(spark, t, Some(2)).count() == 4)
    Versioned.compact(spark, t)
    assert(Versioned.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3, 4))
    // the count sidecars round-tripped through the Hadoop arm:
    // .partitions answers without new footer opens
    val before = Versioned.footerOpenCount.get()
    assert(Versioned.partitions(spark, t)
      .agg(org.apache.spark.sql.functions.sum("row_count"))
      .head().getLong(0) == 3L)
    assert(Versioned.footerOpenCount.get() == before)
  }
}
