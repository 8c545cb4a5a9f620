package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** SQL row-level DML (DELETE FROM / UPDATE / MERGE INTO) on catalog
  * tables — the [[graft.plans.RowLevelDmlRule]] lowering over the
  * engine's snapshot primitives. */
class DmlSpec extends SparkSpec {
  private val work = "target/tmp/dml-spec"

  private def fresh(name: String): (String, String) = {
    val t = s"$work/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    (t, s"graft.`${new java.io.File(t).getAbsolutePath}`")
  }

  test("upsertGroups replaces whole row GROUPS by key, appends new " +
      "keys, links untouched files, refuses null keys") {
    import spark.implicits._
    val (t, g) = fresh("upsert_groups")
    // an order-lines shape: one key owns several rows
    Versioned.commit(Seq(
      (1L, "a", 10), (1L, "b", 11),
      (2L, "a", 20), (2L, "c", 21), (2L, "d", 22),
      (3L, "e", 30)).toDF("k", "item", "qty"), t,
      statsCols = Seq("k"))
    Versioned.append(Seq((4L, "f", 40)).toDF("k", "item", "qty"), t,
      statsCols = Seq("k"))
    // replace key 2's three rows with ONE row, insert new key 9's two
    val v = Versioned.upsertGroups(spark, t, Seq(
      (2L, "z", 99), (9L, "p", 90), (9L, "q", 91))
      .toDF("k", "item", "qty"), "k", statsCols = Seq("k"))
    val got = spark.sql(s"SELECT k, item, qty FROM $g ORDER BY k, item")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      (1L, "a", 10), (1L, "b", 11), (2L, "z", 99), (3L, "e", 30),
      (4L, "f", 40), (9L, "p", 90), (9L, "q", 91)))
    // old snapshots stay time-travelable
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF 2")
      .head().getLong(0) == 7)
    // the untouched append file (key 4) LINKED through the merge —
    // the commit did not rewrite it
    val files = Versioned.files(spark, t).collect()
    assert(files.exists(r => r.getAs[Boolean]("linked")),
      files.mkString("\n"))
    // an all-new-keys batch is an O(delta) linked append, and the
    // group replacement is idempotent
    val v2 = Versioned.upsertGroups(spark, t,
      Seq((20L, "n", 1)).toDF("k", "item", "qty"), "k",
      statsCols = Seq("k"))
    assert(v2 == v + 1)
    Versioned.upsertGroups(spark, t, Seq(
      (2L, "z", 99)).toDF("k", "item", "qty"), "k",
      statsCols = Seq("k"))
    assert(spark.sql(s"SELECT count(*) FROM $g WHERE k = 2")
      .head().getLong(0) == 1)
    // null keys refuse (they never match the merge's equality joins)
    val e = intercept[IllegalArgumentException](
      Versioned.upsertGroups(spark, t,
        Seq(Tuple1("x")).toDF("item")
          .withColumn("k", lit(null).cast("long"))
          .withColumn("qty", lit(1)).select("k", "item", "qty"),
        "k"))
    assert(e.getMessage.contains("null"))
  }

  test("SHOW CREATE TABLE prints schema, partitioning and properties") {
    val (t, g) = fresh("show_create")
    spark.sql(s"CREATE TABLE $g (id INT, pk STRING) " +
      "PARTITIONED BY (pk) TBLPROPERTIES ('owner.team'='graft')")
    val sct = spark.sql(s"SHOW CREATE TABLE $g").head().getString(0)
    assert(sct.contains("CREATE TABLE") && sct.contains("id INT") &&
      sct.contains("pk STRING"), sct)
    assert(sct.contains("PARTITIONED BY (pk)"), sct)
    assert(sct.contains("owner.team") && sct.contains("graft"), sct)
  }

  test("DELETE FROM ... WHERE is a merge-on-read positional delete") {
    import spark.implicits._
    val (t, g) = fresh("delete_where")
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c"), (4, null))
      .toDF("id", "v"), t)
    val filesBefore = Versioned.dataFileCount(spark, t)
    spark.sql(s"DELETE FROM $g WHERE id >= 3 AND v IS NOT NULL")
    assert(Versioned.currentVersion(spark, t) == 2)
    // MoR: tombstones only, not a rewrite — data file count unchanged
    assert(Versioned.dataFileCount(spark, t) == filesBefore)
    // NULL predicate (v = null on id=4 via the IS NOT NULL leg) keeps
    // the row; only id=3 matched
    assert(spark.sql(s"SELECT id FROM $g ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 4))
    // pre-delete snapshot still time-travels complete
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF 1")
      .head().getLong(0) == 4)
    // no-match delete is a no-op (no new version)
    spark.sql(s"DELETE FROM $g WHERE id = 99")
    assert(Versioned.currentVersion(spark, t) == 2)
  }

  test("DELETE FROM without WHERE truncates, history retained") {
    import spark.implicits._
    val (t, g) = fresh("delete_all")
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    spark.sql(s"DELETE FROM $g")
    assert(spark.sql(s"SELECT count(*) FROM $g").head().getLong(0) == 0)
    assert(spark.table(g).columns.toSeq == Seq("id", "v"))
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF 1")
      .head().getLong(0) == 2)
  }

  test("DELETE with an uncorrelated IN subquery") {
    import spark.implicits._
    val (t, g) = fresh("delete_subq")
    val (t2, g2) = fresh("delete_subq_keys")
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), t)
    Versioned.commit(Seq(Tuple1(2), Tuple1(3)).toDF("k"), t2)
    spark.sql(s"DELETE FROM $g WHERE id IN (SELECT k FROM $g2)")
    assert(spark.sql(s"SELECT id FROM $g").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    // correlated subqueries refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $g WHERE EXISTS (" +
        s"SELECT 1 FROM $g2 WHERE k = id)")
    }
    assert(e.getMessage.contains("correlated"))
  }

  test("UPDATE evaluates SET against the old row and keeps NULL-pred rows") {
    import spark.implicits._
    val (t, g) = fresh("update_where")
    Versioned.commit(Seq((1, 10L, 100L), (2, 20L, 200L),
      (3, 30L, 300L)).toDF("id", "a", "b"), t)
    // swap semantics: both SET expressions see the OLD row
    spark.sql(s"UPDATE $g SET a = b, b = a WHERE id <= 2")
    val rows = spark.sql(s"SELECT id, a, b FROM $g ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1, 100L, 10L), (2, 200L, 20L),
      (3, 30L, 300L)))
    assert(Versioned.currentVersion(spark, t) == 2)
    // value casts to the column's type (store assignment): int literal
    // into a BIGINT column
    spark.sql(s"UPDATE $g SET a = 7 WHERE id = 3")
    assert(spark.sql(s"SELECT a FROM $g WHERE id = 3")
      .head().getLong(0) == 7L)
    // NULL predicate keeps rows unmodified; no-match UPDATE is a no-op
    val v = Versioned.currentVersion(spark, t)
    spark.sql(s"UPDATE $g SET a = 0 WHERE nullif(b, b) > 1") // NULL all
    assert(Versioned.currentVersion(spark, t) == v)
    // copy-on-write: only files holding a matched row rewrite
    spark.sql(s"UPDATE $g SET b = -1")
    assert(spark.sql(s"SELECT sum(b) FROM $g").head().getLong(0) == -3L)
    // pre-update snapshots intact
    assert(spark.sql(s"SELECT sum(a) FROM $g VERSION AS OF 1")
      .head().getLong(0) == 60L)
  }

  test("MERGE INTO covers matched/not-matched/not-matched-by-source") {
    import spark.implicits._
    val (t, g) = fresh("merge_full")
    Versioned.commit(Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L),
      (4, "d", 40L)).toDF("id", "v", "n"), t)
    Seq((2, "B", 200L), (3, "kill", 0L), (5, "E", 50L))
      .toDF("id", "v", "n").createOrReplaceTempView("mrg_src")
    spark.sql(s"""
      MERGE INTO $g AS tgt USING mrg_src AS src ON tgt.id = src.id
      WHEN MATCHED AND src.v = 'kill' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = src.v, n = tgt.n + src.n
      WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (src.id, src.v, src.n)
      WHEN NOT MATCHED BY SOURCE AND tgt.id = 4 THEN UPDATE SET v = 'stale'
    """)
    val rows = spark.sql(s"SELECT id, v, n FROM $g ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      (1, "a", 10L),      // untouched (not matched by source, id != 4)
      (2, "B", 220L),     // matched update, sees OLD tgt.n
      (4, "stale", 40L),  // not-matched-by-source update
      (5, "E", 50L)))     // not-matched insert; id=3 deleted
    // one atomic commit for the whole statement
    assert(Versioned.currentVersion(spark, t) == 2)
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF 1")
      .head().getLong(0) == 4)
  }

  test("MERGE insert column-list leaves unassigned columns NULL") {
    import spark.implicits._
    val (t, g) = fresh("merge_collist")
    Versioned.commit(Seq((1, "a", 10L)).toDF("id", "v", "n"), t)
    Seq(Tuple1(9)).toDF("id").createOrReplaceTempView("mrg_ids")
    spark.sql(s"""
      MERGE INTO $g USING mrg_ids src ON $g.id = src.id
      WHEN NOT MATCHED THEN INSERT (id) VALUES (src.id)
    """)
    val r = spark.sql(s"SELECT v, n FROM $g WHERE id = 9").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("MERGE enforces the one-source-row-per-target-row contract") {
    import spark.implicits._
    val (t, g) = fresh("merge_card")
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Seq((1, "x"), (1, "y")).toDF("id", "v")
      .createOrReplaceTempView("mrg_dup")
    val e = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO $g USING mrg_dup src ON $g.id = src.id
        WHEN MATCHED THEN UPDATE SET v = src.v
      """)
    }
    assert(e.getMessage.contains("cardinality"))
    assert(Versioned.currentVersion(spark, t) == 1) // nothing published
    // many TARGET rows per source row is fine (the other direction)
    val (t2, g2) = fresh("merge_fanout")
    Versioned.commit(Seq((1, "a"), (1, "b")).toDF("id", "v"), t2)
    Seq((1, "Z")).toDF("id", "v").createOrReplaceTempView("mrg_one")
    spark.sql(s"""
      MERGE INTO $g2 USING mrg_one src ON $g2.id = src.id
      WHEN MATCHED THEN UPDATE SET v = src.v
    """)
    assert(spark.sql(s"SELECT v FROM $g2").collect()
      .map(_.getString(0)).toSeq == Seq("Z", "Z"))
  }

  test("NMBS-only MERGE never duplicates multi-matched target rows") {
    import spark.implicits._
    // With NO matched clause, SQL permits a target row to match many
    // source rows (no clause could act nondeterministically on it) —
    // so the cardinality contract must NOT trip, and a target row that
    // shares a file with a not-matched-by-source row must be emitted
    // exactly once unchanged, not once per source match.
    val (t, g) = fresh("merge_nmbs_multi")
    // one file: id=1 (will match TWO source rows) + id=2 (NMBS)
    Versioned.commit(Seq((1, "keep"), (2, "stale")).toDF("id", "v")
      .coalesce(1), t)
    Seq((1, "x"), (1, "y")).toDF("id", "v")
      .createOrReplaceTempView("mrg_nmbs_src")
    spark.sql(s"""
      MERGE INTO $g USING mrg_nmbs_src src ON $g.id = src.id
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'gone'
    """)
    val rows = spark.sql(s"SELECT id, v FROM $g ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "keep"), (2, "gone")))
    // same shape through DELETE: the matched row survives exactly once
    val (t2, g2) = fresh("merge_nmbs_del")
    Versioned.commit(Seq((1, "keep"), (2, "stale")).toDF("id", "v")
      .coalesce(1), t2)
    spark.sql(s"""
      MERGE INTO $g2 USING mrg_nmbs_src src ON $g2.id = src.id
      WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    assert(spark.sql(s"SELECT id, v FROM $g2").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "keep")))
  }

  test("MERGE source can be a pinned graft snapshot read") {
    import spark.implicits._
    val (t, g) = fresh("merge_pin_tgt")
    val (ts, gs) = fresh("merge_pin_src")
    Versioned.commit(Seq((1, 0L), (2, 0L)).toDF("id", "n"), t)
    Versioned.commit(Seq((1, 5L)).toDF("id", "n"), ts)
    Versioned.append(Seq((2, 7L)).toDF("id", "n"), ts) // v2
    // USING the v1 pin: only id=1 merges
    spark.sql(s"""
      MERGE INTO $g USING (SELECT * FROM $gs VERSION AS OF 1) src
      ON $g.id = src.id
      WHEN MATCHED THEN UPDATE SET n = src.n
    """)
    val rows = spark.sql(s"SELECT id, n FROM $g ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1, 5L), (2, 0L)))
  }

  test("MERGE never resurrects merge-on-read-deleted rows") {
    import spark.implicits._
    val (t, g) = fresh("merge_mor")
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), t)
    // MoR positional delete of id=2: file untouched, tombstone applies
    spark.sql(s"DELETE FROM $g WHERE id = 2")
    // a merge touching the SAME file must not bring id=2 back
    Seq((1, "A")).toDF("id", "v").createOrReplaceTempView("mrg_m1")
    spark.sql(s"""
      MERGE INTO $g USING mrg_m1 src ON $g.id = src.id
      WHEN MATCHED THEN UPDATE SET v = src.v
    """)
    assert(spark.sql(s"SELECT id FROM $g ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // and a deleted-key row arrives as an INSERT, not a resurrect
    Seq((2, "fresh")).toDF("id", "v").createOrReplaceTempView("mrg_m2")
    spark.sql(s"""
      MERGE INTO $g USING mrg_m2 src ON $g.id = src.id
      WHEN MATCHED THEN UPDATE SET v = src.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)
    """)
    assert(spark.sql(s"SELECT v FROM $g WHERE id = 2").collect()
      .map(_.getString(0)).toSeq == Seq("fresh"))
  }

  test("MERGE WITH SCHEMA EVOLUTION adds missing source columns") {
    import spark.implicits._
    val (t, g) = fresh("merge_evo")
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    Seq((2, "B", 20L), (3, "C", 30L)).toDF("id", "v", "score")
      .createOrReplaceTempView("mrg_evo_src")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $g USING mrg_evo_src src
      ON $g.id = src.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    val rows = spark.sql(s"SELECT id, v, score FROM $g ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2))))
    assert(rows.toSeq == Seq((1, "a", None), (2, "B", Some(20L)),
      (3, "C", Some(30L))))
    // two versions published: the metadata-only add, then the merge —
    // and the pre-evolution snapshot still shows the narrow schema
    assert(Versioned.currentVersion(spark, t) == 3)
    assert(spark.sql(s"SELECT * FROM $g VERSION AS OF 1")
      .columns.toSeq == Seq("id", "v"))
    // WITHOUT the clause, an extra source column does not evolve the
    // schema (UPDATE SET * / INSERT * map target columns only)
    Seq((1, "A2", 99L, true)).toDF("id", "v", "score", "flag")
      .createOrReplaceTempView("mrg_evo_src2")
    spark.sql(s"""
      MERGE INTO $g USING mrg_evo_src2 src ON $g.id = src.id
      WHEN MATCHED THEN UPDATE SET *
    """)
    assert(!spark.table(g).columns.contains("flag"))
    assert(spark.sql(s"SELECT v FROM $g WHERE id = 1")
      .head().getString(0) == "A2")
  }

  test("SQL writes and DML inherit the hidden-transform layout") {
    import spark.implicits._
    val (t, g) = fresh("dml_transform")
    val rows = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2, java.sql.Timestamp.valueOf("2024-02-01 10:00:00"), "b"))
      .toDF("id", "ts", "v")
    Versioned.commit(rows, t,
      transform = Some(Versioned.Transform.Days("ts")))
    def partDirs(ver: Int): Seq[String] = {
      val d = new java.io.File(s"$t/v=$ver")
      if (!d.exists()) Nil
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSeq
        .filter(_.contains("days_ts")).sorted
    }
    assert(partDirs(1).size == 2) // one hive dir per day
    // INSERT INTO inherits the days(ts) spec for the appended delta
    spark.sql(s"INSERT INTO $g VALUES " +
      "(3, TIMESTAMP '2024-03-01 10:00:00', 'c')")
    assert(partDirs(2).size == 1)
    // UPDATE's rewritten files keep the layout too
    spark.sql(s"UPDATE $g SET v = 'B' WHERE id = 2")
    assert(partDirs(3).nonEmpty)
    // and the hidden partition column never leaks into reads
    assert(!spark.table(g).columns.exists(_.contains("days_ts")))
    assert(spark.sql(s"SELECT count(*) FROM $g").head().getLong(0) == 3)
  }

  test("concurrent SQL DELETE and programmatic append both land") {
    import spark.implicits._
    val (t, g) = fresh("dml_race")
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    // both racers observe version 1; the positional delete is
    // rebase-safe and must auto-retry if it loses the slot
    val gate = new java.util.concurrent.CyclicBarrier(2)
    var err: Option[Throwable] = None
    val delTh = new Thread(() => {
      try { gate.await()
        spark.sql(s"DELETE FROM $g WHERE id = 1") }
      catch { case e: Throwable => err = Some(e) }
    })
    val appTh = new Thread(() => {
      try { gate.await()
        Versioned.append(Seq((3, "c")).toDF("id", "v"), t) }
      catch { case e: Throwable => err = Some(e) }
    })
    delTh.start(); appTh.start(); delTh.join(); appTh.join()
    assert(err.isEmpty, s"a racing writer failed: $err")
    assert(Versioned.currentVersion(spark, t) == 3)
    assert(spark.sql(s"SELECT id FROM $g ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("EXPLAIN on DML plans without executing") {
    import spark.implicits._
    val (t, g) = fresh("dml_explain")
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    val plan = spark.sql(s"EXPLAIN DELETE FROM $g WHERE id = 1")
      .head().getString(0)
    assert(plan.contains("GraftDeleteCommand"))
    // explaining must not publish a version or delete anything
    assert(Versioned.currentVersion(spark, t) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $g").head().getLong(0) == 1)
  }

  test("unsupported DML shapes refuse loudly") {
    import spark.implicits._
    val (t, g) = fresh("dml_refuse")
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    // DML on a non-graft relation falls through to Spark's own error
    spark.read.parquet(s"$sf/region.parquet")
      .createOrReplaceTempView("plain_region")
    intercept[Exception] {
      spark.sql("DELETE FROM plain_region WHERE r_regionkey = 0")
    }
    assert(Versioned.currentVersion(spark, t) == 1)
  }

  test("fused MERGE probe: rewrites the provenance scan's file set, " +
      "refuses cardinality violations; NMBS merges keep their path") {
    import spark.implicits._
    val (t, _) = fresh("merge_fused")
    // three files: ids 1-3, 4-6, 7-9
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .coalesce(1), t)
    Versioned.append(Seq((4, "d"), (5, "e"), (6, "f")).toDF("id", "v")
      .coalesce(1), t)
    Versioned.append(Seq((7, "g"), (8, "h"), (9, "i")).toDF("id", "v")
      .coalesce(1), t)
    def name(p: String) = p.split("/").last
    def merge(src: DataFrame,
        nmbs: Seq[Versioned.MergeClause] = Nil): Int =
      Versioned.mergeInto(spark, t, src,
        on = col("__t.id") === col("__s.id"),
        matched = Seq(Versioned.MergeUpdate(None,
          Seq("v" -> col("__s.v")))),
        notMatched = Seq(Versioned.MergeInsert(None,
          Seq("id" -> col("__s.id"), "v" -> col("__s.v")))),
        notMatchedBySource = nmbs)
    // the provenance scan's answer, computed the old way: the files
    // holding a target row the source matches
    val src = Seq((2, "B"), (8, "H"), (20, "new")).toDF("id", "v")
    val provenance = Versioned.read(spark, t)
      .withColumn("f", input_file_name())
      .join(src.select("id"), "id").select("f").distinct().collect()
      .map(r => name(r.getString(0))).toSet
    assert(provenance.size == 2)
    assert(merge(src) == 4)
    val rewritten = Versioned.entries(spark, t)
      .filter(col("status") === "deleted").select("file").collect()
      .map(r => name(r.getString(0))).toSet
    assert(rewritten == provenance)
    assert(Versioned.read(spark, t).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(
        (1, "a"), (2, "B"), (3, "c"), (4, "d"), (5, "e"), (6, "f"),
        (7, "g"), (8, "H"), (9, "i"), (20, "new")))
    // two source rows on target id 5 (plus a clean match elsewhere):
    // the fused pass refuses, nothing publishes
    val dup = Seq((5, "x"), (5, "y"), (1, "z")).toDF("id", "v")
    val e = intercept[IllegalArgumentException](merge(dup))
    assert(e.getMessage.contains("cardinality"))
    // with a NOT MATCHED BY SOURCE clause the check runs on its own
    // pass, and refuses the same way
    val e2 = intercept[IllegalArgumentException](
      merge(dup, Seq(Versioned.MergeDelete(None))))
    assert(e2.getMessage.contains("cardinality"))
    assert(Versioned.currentVersion(spark, t) == 4)
    // matched + NMBS: the NMBS clause touches every file
    assert(merge(Seq((1, "A")).toDF("id", "v"),
      Seq(Versioned.MergeDelete(Some(col("__t.id") > 8)))) == 5)
    assert(Versioned.read(spark, t).orderBy("id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5, 6, 7, 8))
    assert(Versioned.read(spark, t).filter(col("id") === 1)
      .head().getString(1) == "A")
  }
}
