package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot/time-travel table with MANIFEST-based O(delta) appends — the
  * Spark-native emulation of the Iceberg capability the reference's data
  * model is built on (csv_to_ice.py:58's createOrReplace publishes a new
  * snapshot; README.md:94's allow_moved_paths reads one): each commit
  * writes an immutable `v=N` directory, then publishes it with a
  * `_commit_N` marker file created atomically (`create(overwrite=false)`).
  * Readers resolve `max(N)` over the markers and scan an immutable
  * snapshot.
  *
  * Snapshots are MANIFESTS, not necessarily self-contained data: every
  * `v=N` carries a `_manifest` file listing the table-relative
  * directories whose data files make up the snapshot (own directory
  * last). A full [[commit]] lists only itself; an [[append]] writes ONLY
  * the new batch's files into `v=N+1` and links the previous snapshot's
  * directories — Iceberg's append semantics at Iceberg's append COST:
  * O(delta) I/O per commit instead of rewriting the table, which is what
  * lets the streaming sink ingest continuously without O(n²) cumulative
  * writes. [[compact]] collapses a long append chain back into one
  * self-contained snapshot; [[vacuum]] reference-counts directories
  * across retained manifests, so expiring an old version never deletes
  * files a newer snapshot still links (Iceberg's expire-snapshots rule).
  *
  * Commit protocol properties (mirrors Iceberg's optimistic metadata
  * commit):
  *  - the data write happens entirely before the publish point; a crash
  *    anywhere before the marker create leaves the table at version N
  *    with no partial state visible;
  *  - there is never a moment with no readable version (markers are only
  *    added, never deleted until vacuum);
  *  - two concurrent committers write private staging directories and
  *    race on the atomic rename to `v=N+1`; the loser fails cleanly
  *    before anything becomes visible — optimistic concurrency, the
  *    Iceberg behavior.
  *
  * Layout:  tableDir/_commit_1, _commit_2, ...  -> publish markers
  *          tableDir/v=1, v=2, ...              -> immutable snapshot dirs
  *          tableDir/v=N/_manifest              -> dirs composing snapshot N
  *          tableDir/v=N/_stats/                -> per-file min/max sidecar
  *          tableDir/.stage-v*-<uuid>           -> in-flight commit staging
  */
object Versioned {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val MarkerPrefix = "_commit_"
  private val ManifestFile = "_manifest"
  private val StatsDir = "_stats"
  private val DeletesDir = "_deletes"
  private val PosDeletesDir = "_posdeletes"
  private val DeletePrefix = "!"
  private val StatsFile = "_stats.tsv"
  // internal column names for positional-delete coordinates
  private val MetaFileCol = "__pfile"
  private val MetaPosCol = "__ppos"

  /** One per-(file, column) stats sidecar row; bounds are nullable.
    * `nulls`/`values` are the file's per-column null count and total
    * row count (Iceberg's null_value_counts / value_counts) — -1 on
    * rows parsed from a format-v1 sidecar, which predates them (those
    * files never null-prune: degrade, never lie). */
  private case class StatRow(file: String, col: String, dtype: String,
      minV: String, maxV: String, nulls: Long = -1L, values: Long = -1L)

  /** Age before an unpublished v=N directory counts as crash debris and
    * may be reclaimed by a committer (see [[commit]]). */
  val ReclaimGraceMs: Long = 60 * 1000L

  /** Diagnostic counter for per-file parquet footer opens on the
    * DRIVER (the fallback path when a stats sidecar can't answer) —
    * lets tests assert that metadata tables over stats-carrying
    * snapshots stay O(versions), never O(files). */
  private[graft] val footerOpenCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Thrown by the commit protocol when a concurrent committer claimed
    * the version slot first. The losing operation published NOTHING —
    * the table is unchanged for it — so any operation whose outcome
    * does not depend on the snapshot it started from (appends,
    * tombstone deletes, metadata-only commits) can safely re-resolve
    * the current version and try again; [[withCommitRetry]] does
    * exactly that for them. Copy-on-write merges surface it instead:
    * their rewrite was computed AGAINST the superseded snapshot, and
    * the caller owns the decision to re-run the merge (Iceberg's
    * optimistic-conflict contract). Subclasses IllegalStateException,
    * the type this condition has always thrown. */
  final class CommitRaceException(msg: String)
      extends IllegalStateException(msg)

  /** Bounded auto-retry for REBASE-SAFE commit operations: re-runs
    * `op` (which must re-resolve the current version itself — every
    * caller here recomputes from `currentVersion` on entry) when it
    * loses a commit race, with exponential backoff + jitter so two
    * herding committers de-synchronize. After `attempts` losses the
    * race surfaces — a pathologically contended table should fail
    * loudly, not spin. */
  /** Public form of the bounded commit-race retry, for CALLERS that
    * own their re-derivation: a copy-on-write merge surfaces
    * [[CommitRaceException]] (its rewrite was computed against the
    * superseded snapshot), and a caller that re-runs the WHOLE merge
    * from scratch — a streaming sink re-deriving its batch, say — is
    * rebase-safe again and wraps the call here instead of hand-rolling
    * the same catch/backoff loop. */
  def retryOnRace[T](attempts: Int = 5)(op: => T): T =
    withCommitRetry(attempts)(op)

  private def withCommitRetry[T](attempts: Int = 5)(op: => T): T = {
    var backoff = 25L
    var n = 0
    while (true) {
      try return op
      catch {
        case e: CommitRaceException =>
          n += 1
          if (n > attempts) throw e
          Thread.sleep(backoff +
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(backoff))
          backoff = math.min(backoff * 2, 2000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def markerVersions(
      st: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Int] =
    st.map(_.getPath.getName)
      .collect { case s if s.startsWith(MarkerPrefix) => s }
      // safe parse: a corrupt/foreign `_commit_x` entry must not wedge
      // every read of the table with a NumberFormatException
      .flatMap(s => Try(s.stripPrefix(MarkerPrefix).toInt).toOption)
      .sorted

  private def committedVersions(spark: SparkSession,
      tableDir: String): Seq[Int] = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir)
    if (!f.exists(dir)) Nil
    else markerVersions(f.listStatus(dir).toSeq)
  }

  /** Current committed version of MAIN — the head every unqualified
    * read and write targets — or 0 when the table doesn't exist. A
    * table with no branch refs has linear history and the newest
    * marker IS main (one listing, the pre-branch cost); once
    * [[createBranch]] has materialized refs, main resolves like any
    * branch head (newer branches' commits are invisible here). */
  def currentVersion(spark: SparkSession, tableDir: String): Int = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir)
    if (!f.exists(dir)) return 0
    val st = f.listStatus(dir).toSeq
    val markers = markerVersions(st)
    if (!st.exists(_.getPath.getName.startsWith(BranchPrefix)))
      markers.lastOption.getOrElse(0)
    else branchHeadIn(f, tableDir, st, markers, MainBranch)
  }

  private def ownerToken(uuid: String) = s"_owner_$uuid"

  /** RAW manifest lines of snapshot `v` (commit order, own directory
    * last). A line is a DATA entry — a DIRECTORY (`v=K`) or, after a
    * file-level [[upsert]]/[[delete]], an individual surviving FILE
    * inside one (`v=K/part-….parquet`) — or a TOMBSTONE entry
    * (`!v=K/_deletes`, see [[deleteRows]]): an equality-delete file set
    * applied at read to data entries OLDER than its version.
    * Pre-manifest snapshots are self-contained: their single entry is
    * the version directory. */
  private def manifestLines(f: FileSystem, tableDir: String,
      v: Int): Seq[String] = {
    val mf = new Path(tableDir, s"v=$v/$ManifestFile")
    if (!f.exists(mf)) Seq(s"v=$v")
    else {
      val in = f.open(mf)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val entries = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      // surface a corrupt/empty manifest with its path, not a bare
      // UnsupportedOperationException from reducing zero scan groups
      require(entries.nonEmpty, s"corrupt empty manifest at $mf")
      entries
    }
  }

  private def isDeleteLine(e: String) = e.startsWith(DeletePrefix)

  /** The DATA entries of snapshot `v` (tombstone lines excluded). */
  private def manifestDirs(f: FileSystem, tableDir: String,
      v: Int): Seq[String] =
    manifestLines(f, tableDir, v).filterNot(isDeleteLine)

  /** The version a manifest entry was written at (`v=K...` -> K). */
  private def entryVer(e: String): Int =
    e.stripPrefix(DeletePrefix).split("/").head.stripPrefix("v=").toInt

  /** Parquet key files of a tombstone entry (`v=K/_deletes`) — the ONE
    * listing both the read path and the [[files]] metadata table use,
    * so they can never disagree about what counts as a tombstone. */
  private def deleteEntryFiles(f: FileSystem, tableDir: String,
      e: String): Seq[Path] =
    f.listStatus(new Path(tableDir, e)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))

  /** A tombstone set of one snapshot: its commit version plus the
    * delete frame — EQUALITY (key columns, [[deleteRows]]) or
    * POSITIONAL ((file, pos) coordinates, [[deleteWhere]]). Both obey
    * the same sequence rule: they apply only to data entries OLDER
    * than `ver`. */
  private sealed trait Tomb { def ver: Int; def df: DataFrame }
  private case class EqTomb(ver: Int, df: DataFrame) extends Tomb
  private case class PosTomb(ver: Int, df: DataFrame) extends Tomb

  /** Tombstone sets of snapshot `v`. The frames are read by explicit
    * part paths (underscore-hidden dirs as scan roots log a spurious
    * WARN); the entry's directory name selects the flavor. */
  private def manifestDeletes(spark: SparkSession, f: FileSystem,
      tableDir: String, v: Int): Seq[Tomb] = {
    val chain = renameChain(f, tableDir, v)
    manifestLines(f, tableDir, v).filter(isDeleteLine)
      .map(_.stripPrefix(DeletePrefix)).map { e =>
        val frame = scanUnit(spark, ScanUnit(
          deleteEntryFiles(f, tableDir, e).map(_.toString), None,
          ownerEpoch(f, tableDir, e.split("/").head)))
        if (e.endsWith("/" + PosDeletesDir)) PosTomb(entryVer(e), frame)
        // an equality key set carries its delete-time column names —
        // rename it forward like any entry so the anti-join still
        // matches rows renamed since
        else EqTomb(entryVer(e), applyRenames(frame, chain, entryVer(e)))
      }
  }

  // —— column renames / adds / drops (field-id schema evolution
  //    analog): each is a metadata-only commit whose sidecar records
  //    one step; readers compose the steps per entry under the
  //    sequence rule (only steps NEWER than the entry apply) ——

  private val RenameFile = "_rename"
  private val AddColFile = "_addcol"
  private val DropColFile = "_dropcol"
  private val RetypeFile = "_retype"
  // one hint gates ALL schema-step probes (name kept from the rename-
  // only era for on-disk compatibility with existing tables)
  private val RenamesHint = "_has_renames"

  /** One schema-evolution step, read back from a version's sidecar
    * (`ver` is the publishing version; 0 while being written — the
    * version is assigned by the commit's slot claim). */
  private sealed trait SchemaStep { def ver: Int }
  private final case class RenameStep(ver: Int, from: String,
      to: String) extends SchemaStep
  private final case class AddStep(ver: Int, name: String,
      dtype: DataType) extends SchemaStep
  private final case class DropStep(ver: Int, name: String)
      extends SchemaStep
  private final case class RetypeStep(ver: Int, name: String,
      dtype: DataType) extends SchemaStep

  /** The table's rename history up to version `upTo`, oldest first —
    * one `(version, from, to)` per [[renameColumn]] commit, read from
    * the `v=K/_rename` sidecar that rode each rename's atomic claim.
    * Composing the chain IS the field-id resolution: a column's
    * identity is preserved through any number of renames because each
    * step maps the previous name forward, which is exactly what
    * Iceberg's numeric field ids buy (ids here are implicit — the
    * chain's composition — rather than stored integers). Cost: one
    * root-hint probe for the common no-renames table; on a renamed
    * table, one sidecar probe per retained version — [[vacuum]] keeps
    * rename versions alive while any older entry needs them, and
    * [[compact]] makes them inert so vacuum can reclaim. */
  private def renameChain(f: FileSystem, tableDir: String,
      upTo: Int): Seq[SchemaStep] = {
    if (!f.exists(new Path(tableDir, RenamesHint))) return Nil
    val dir = new Path(tableDir)
    if (!f.exists(dir)) return Nil
    val st = f.listStatus(dir).toSeq
    def sidecar(k: Int, file: String): Option[String] = {
      val p = new Path(tableDir, s"v=$k/$file")
      if (!f.exists(p)) None
      else Try {
        val in = f.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }.toOption
    }
    val steps: Seq[SchemaStep] =
      markerVersions(st).filter(_ <= upTo).flatMap { k =>
        val rename = sidecar(k, RenameFile).flatMap(s => Try {
          val a = s.trim.split("\t")
          RenameStep(k, a(0), a(1)): SchemaStep
        }.toOption)
        // a malformed add sidecar (unparseable type DDL) keeps the
        // column INVISIBLE rather than guessing a type: readers of the
        // add version simply never materialize it, and newer files
        // that physically carry it still surface it by name
        val add = sidecar(k, AddColFile).flatMap(s => Try {
          val a = s.trim.split("\t")
          AddStep(k, a(0), DataType.fromDDL(a(1))): SchemaStep
        }.toOption)
        val drop = sidecar(k, DropColFile).flatMap(s => Try {
          DropStep(k, s.trim): SchemaStep
        }.toOption)
        val retype = sidecar(k, RetypeFile).flatMap(s => Try {
          val a = s.trim.split("\t")
          RetypeStep(k, a(0), DataType.fromDDL(a(1))): SchemaStep
        }.toOption)
        rename.toSeq ++ add.toSeq ++ drop.toSeq ++ retype.toSeq
      }
    if (steps.isEmpty ||
      !st.exists(_.getPath.getName.startsWith(BranchPrefix))) steps
    else {
      // BRANCHED table: a schema step is a commit on ONE line of
      // history — a main-side rename/add/drop must not restyle a
      // diverged branch's snapshots (whose own commits still write the
      // old shape). Keep only steps on the read version's parent chain.
      val anc = scala.collection.mutable.HashSet[Int]()
      var w = upTo
      while (w > 0 && anc.add(w)) w = refInfo(f, tableDir, w)._2
      steps.filter(s => anc.contains(s.ver))
    }
  }

  /** Evolve a DATA frame (an entry scan written at `asOfVer`) forward
    * through every schema step NEWER than it, in version order, so it
    * unions/joins under the read version's shape: renames re-title,
    * adds null-fill (the Iceberg new-field contract: files written
    * before the add know nothing of it), drops hide the column. A
    * step whose precondition fails (source absent, target present,
    * add already physically present) is a no-op — degrade, never
    * collide. Order matters between kinds: `DROP y` then `RENAME x TO
    * y` must drop the OLD y before the rename lands the new one. */
  private def applySchemaSteps(df: DataFrame,
      chain: Seq[SchemaStep], asOfVer: Int): DataFrame =
    chain.filter(_.ver > asOfVer).sortBy(_.ver)
      .foldLeft(df) {
        case (d, RenameStep(_, from, to)) =>
          if (d.columns.contains(from) && !d.columns.contains(to))
            d.withColumnRenamed(from, to)
          else d
        case (d, AddStep(_, name, dtype)) =>
          if (d.columns.contains(name)) d
          else d.withColumn(name, lit(null).cast(dtype))
        case (d, DropStep(_, name)) =>
          if (d.columns.contains(name)) d.drop(name) else d
        case (d, RetypeStep(_, name, dtype)) =>
          // cast in place, preserving column ORDER (a bare
          // withColumn would keep position anyway, but be explicit:
          // the union groups by schema, so every older entry must
          // land on exactly the widened shape)
          if (d.columns.contains(name) &&
            d.schema(name).dataType != dtype)
            d.withColumn(name, col(name).cast(dtype))
          else d
      }

  /** Rename-only projection of [[applySchemaSteps]] for TOMBSTONE key
    * frames: a key set carries exactly its delete-time key columns —
    * renames must track so the anti-join lines up, but an added
    * column must never join into the key set and a droppable column
    * is guarded against live tombstones at [[dropColumn]]. */
  private def applyRenames(df: DataFrame,
      chain: Seq[SchemaStep], asOfVer: Int): DataFrame =
    applySchemaSteps(df,
      chain.collect { case r: RenameStep => r: SchemaStep }, asOfVer)

  /** Apply tombstone key sets to `df` as NULL-SAFE equality anti-joins
    * on each tombstone's columns — Iceberg-v2 merge-on-read semantics,
    * where an equality delete whose value is null deletes exactly the
    * rows whose column is null (plain SQL `=` would silently never
    * match them, diverging from the spec). Callers pass only the
    * tombstones NEWER than the data being read: a delete file affects
    * only data written before it, so a key re-inserted AFTER the
    * delete survives. Consequence of null-matching-null: files
    * predating a schema-evolved key column null-fill that column, so a
    * null-keyed tombstone deletes their rows too — their value IS null.
    * Tombstone frames are key-scale and AQE broadcasts them. */
  private def applyDeletes(df: DataFrame,
      tombs: Seq[Tomb]): DataFrame = {
    // positional tombstones first, directly over the scan: their
    // (file, pos) coordinates come from the reader's hidden _metadata
    // columns, which resolve only on a file-source relation — an
    // equality anti-join above would mask them. One anti-join against
    // the UNION of all applicable positional sets (coordinates are
    // globally unique, so sets union safely); the sets are key-scale
    // and AQE broadcasts them.
    val posSets = tombs.collect { case PosTomb(_, d) => d }
    val withPos =
      if (posSets.isEmpty) df
      else {
        val keys = posSets.reduce(_.unionByName(_))
          .select(col("file").as("__dfile"), col("pos").as("__dpos"))
        df.withColumn("__dfile", col("_metadata.file_path"))
          .withColumn("__dpos", col("_metadata.row_index"))
          .join(keys, Seq("__dfile", "__dpos"), "left_anti")
          .drop("__dfile", "__dpos")
      }
    tombs.collect { case EqTomb(_, t) => t }
      .foldLeft(withPos) { case (d, t) =>
        val cols = t.columns.toSeq
        val missing = cols.filterNot(d.columns.contains)
        val padded = missing.foldLeft(d)((acc, c) =>
          acc.withColumn(c, lit(null).cast(t.schema(c).dataType)))
        val cond = cols.map(c => padded(c) <=> t(c)).reduce(_ && _)
        padded.join(t, cond, "left_anti").drop(missing: _*)
      }
  }

  /** Whether `dir` holds hive partition directories (`col=value/`).
    * Decides the scan strategy: partitioned roots must each be read
    * under their OWN `basePath` — Spark refuses to infer partitions
    * across multiple roots ([CONFLICTING_DIRECTORY_STRUCTURES]). */
  private def isHivePartitioned(f: FileSystem, dir: Path): Boolean =
    f.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      st.isDirectory && n.contains("=") &&
        !n.startsWith("_") && !n.startsWith(".")
    }

  /** One planned scan over manifest entries: `paths` under an optional
    * explicit `basePath` (present for hive-partitioned roots and for
    * file entries, whose partition values live in the path). `epoch`
    * is the commit-unique identity of the version root(s) the paths
    * live under (see [[ownerEpoch]]) — it keys the schema memo, so a
    * table dropped and recreated at the same path can never revive the
    * old table's schema. "?" (unknown) disables memoization. */
  private case class ScanUnit(paths: Seq[String],
      basePath: Option[String], epoch: String = "?",
      noHive: Boolean = false)

  /** Commit-unique epoch of a version root: the name of the
    * `_owner_<uuid>` token the committer left inside it — a fresh UUID
    * per published commit, so it identifies the commit ITSELF, immune
    * to the (mtime, length) millisecond-granularity collisions a
    * drop-and-recreate at the same path can produce. Tokenless roots
    * (pre-protocol fixtures) and failed probes return "?", which
    * disables the schema memo for that scan instead of keying on a
    * guess. */
  private def ownerEpoch(f: FileSystem, tableDir: String,
      vroot: String): String =
    Try {
      f.listStatus(new Path(tableDir, vroot)).collectFirst {
        case st if st.getPath.getName.startsWith("_owner_") =>
          st.getPath.getName
      }.getOrElse("?")
    }.getOrElse("?")

  /** Schema memo for scan units. Version directories are IMMUTABLE
    * once published (the commit protocol's whole point), so a path
    * set's parquet schema never changes — caching it turns the eager
    * footer-inference every `spark.read.parquet` pays at PLAN time
    * into a one-time cost per table/version instead of a per-read tax
    * (a snapshot-protocol workload builds dozens of plans over the
    * same few directories). Bounded: cleared wholesale if it ever
    * grows past 10k entries (vacuumed dirs just leave dead keys). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def scanUnit(spark: SparkSession, u: ScanUnit): DataFrame = {
    val reader0 =
      u.basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    // plain (no-hive) FILE units read with partition inference OFF:
    // without it, file paths from different version dirs would make
    // Spark infer a bogus `v` partition column from the `v=N` path
    // segment — and suppressing it is exactly what lets those units
    // FOLD across versions into one multi-path scan leg (the
    // basePath anchor that used to prevent the bogus column also
    // prevented the fold)
    val reader =
      if (u.noHive) reader0.option("recursiveFileLookup", "true")
      else reader0
    // the owner-token epoch joins the key so a table DROPPED AND
    // RECREATED at the same path in one JVM misses the memo instead of
    // reviving the old table's schema - the one way "immutable once
    // published" is violated. An unknown epoch ("?" anywhere in a
    // possibly-merged one) skips the memo rather than keying a guess.
    if (u.epoch.contains("?")) return reader.parquet(u.paths: _*)
    val key = u.basePath.getOrElse("") + "\u0000" + u.epoch +
      "\u0000" + u.noHive + "\u0000" + u.paths.mkString("|")
    val cached = schemaMemo.get(key)
    if (cached != null) reader.schema(cached).parquet(u.paths: _*)
    else {
      // memo MISS: a Spark-written unit carries its exact Catalyst
      // schema in the footer metadata, so the first read can seed
      // from ONE driver footer probe instead of the schema-inference
      // JOB `spark.read.parquet` launches — a snapshot-protocol
      // workload (commit → read → commit …) pays that job for every
      // fresh version dir otherwise. Restricted to single-path units
      // with NO hive segment under the base (partition-value TYPE
      // inference stays the engine's — a seeded schema would have to
      // guess it); foreign files without the metadata fall through.
      // a dir unit whose own path IS the base is the hive-dir case
      // (entryUnit anchors dirs only when hive-partitioned) — skip
      def hiveUnder(base: String, path: String): Boolean =
        base == path || !path.startsWith(base) || path
          .stripPrefix(base).stripPrefix("/").split("/").dropRight(1)
          .exists(_.contains("="))
      val seeded =
        if (u.paths.lengthCompare(1) == 0 &&
            u.basePath.forall(b => !hiveUnder(b, u.paths.head)))
          driverSchemaOf(spark, u.paths.head)
        else None
      val df = seeded match {
        case Some(sc0) => reader.schema(sc0).parquet(u.paths: _*)
        case None => reader.parquet(u.paths: _*)
      }
      if (schemaMemo.size > 10000) schemaMemo.clear()
      schemaMemo.put(key, df.schema)
      df
    }
  }

  /** The unit's Catalyst schema from the first parquet footer's
    * `org.apache.spark.sql.parquet.row.metadata` key — the exact
    * schema Spark's own inference prefers when present
    * (`ParquetFileFormat.readSchemaFromFooter`), made nullable like
    * any inferred data schema. None (→ normal inference) for foreign
    * files, unreadable footers, or metadata-less units. */
  private def driverSchemaOf(spark: SparkSession,
      dirOrFile: String): Option[StructType] = Try {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dirOrFile)
    val f = p.getFileSystem(conf)
    val first =
      if (dirOrFile.endsWith(".parquet")) Some(p)
      else FsFast.walkFiles(f, p).collectFirst {
        case e if e.name.endsWith(".parquet") &&
            e.parentName != StatsDir &&
            e.parentName != DeletesDir &&
            e.parentName != PosDeletesDir => e.path
      }
    first.flatMap(fp => FsFast.footerSparkSchema(f, conf, fp)
      .map(st => allNullable(st).asInstanceOf[StructType]))
  }.toOption.flatten

  /** Inferred data schemas are nullable throughout (Spark's own
    * `asNullable`, which is private): the embedded writer schema may
    * carry non-null fields the scan contract does not promise. */
  private def allNullable(
      dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(fd =>
      fd.copy(dataType = allNullable(fd.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = allNullable(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = allNullable(m.keyType),
        valueType = allNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Resolve a manifest entry to its scan unit. A directory entry is
    * its own root (own basePath when hive-partitioned, none
    * otherwise). A FILE entry with hive segments in its path anchors
    * to its version directory so partition values still materialize
    * as columns; a PLAIN file entry (the common CoW-survivor case)
    * gets no anchor and partition inference OFF instead — one
    * version dir per anchor would otherwise keep same-shaped files
    * from different versions in separate scan legs forever, and a
    * CDC-maintained table's read plan would grow one union leg per
    * commit between compactions. */
  private def entryUnit(f: FileSystem, tableDir: String,
      entry: String): ScanUnit = {
    val p = new Path(tableDir, entry)
    val epoch = ownerEpoch(f, tableDir, entry.split("/").head)
    if (f.getFileStatus(p).isFile) {
      // hive segments are the dirs between the version root and the
      // file itself (entry = "v=N[/col=val…]/part-….parquet")
      val segs = entry.split("/")
      val hive = segs.drop(1).dropRight(1).exists(_.contains("="))
      if (hive)
        ScanUnit(Seq(p.toString),
          Some(new Path(tableDir, segs.head).toString), epoch)
      else ScanUnit(Seq(p.toString), None, epoch, noHive = true)
    } else if (isHivePartitioned(f, p))
      ScanUnit(Seq(p.toString), Some(p.toString), epoch)
    else ScanUnit(Seq(p.toString), None, epoch)
  }

  /** Commit a new snapshot: write the data (plus manifest, stats sidecar
    * and an `_owner_<uuid>` token file) to a committer-private staging
    * directory, claim the version by renaming it to `v=N+1`, verify
    * ownership via the token, then publish with the `_commit_N+1`
    * marker. Two committers racing the same parent version collide at
    * the claim: on filesystems whose rename fails against an existing
    * destination the loser's rename returns false; on LocalFileSystem/
    * HDFS — whose rename "succeeds" by MOVING THE SOURCE INSIDE the
    * existing destination — the loser detects the nesting because its
    * owner token is not at the directory root, removes its nested copy,
    * and fails cleanly. Either way the loser never tears the winner's
    * published files and the table stays at N for it to retry. (The
    * naive shared-v=N+1 write this replaces let the loser clobber the
    * winner's already-published snapshot; the EtlSpec race test caught
    * it.)
    *
    * `note` is recorded inside the marker at the commit point — an
    * atomic per-version annotation ([[commitNotes]]), used by the
    * streaming sink to make micro-batch replays idempotent.
    *
    * `statsCols` declares columns whose per-file (min, max) are
    * harvested into a `_stats` sidecar at commit time (one extra scan of
    * the DELTA only) — the manifest-level pruning stats Iceberg keeps,
    * consumed by [[readWhere]] to skip files before Spark ever lists
    * them.
    *
    * A committer that crashes after the rename but before the marker
    * leaves an unpublished `v=N+1` directory that blocks that version
    * slot; [[vacuum]] reclaims unpublished version directories (run it
    * as maintenance, not concurrently with writers). */
  def commit(df: DataFrame, tableDir: String,
      partitionCol: Option[String] = None,
      note: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None,
      branch: Option[String] = None,
      props: Option[Map[String, String]] = None,
      declaredOrder: Boolean = true): Int =
    commitStaged(df, tableDir, partitionCol, note, statsCols,
      linkBase = None, transform = transform, branch = branch,
      props = props, declaredOrder = declaredOrder)

  /** Process-scoped snapshot-schema cache for the append-path schema
    * reconcile: schema of a PUBLISHED version is immutable, so one
    * entry per table dir (the head — a sequential append chain hits
    * every commit after its first). Entries self-validate against the
    * version's commit-marker (mtime, len) signature read from the
    * committer's existing root listing, so a stale entry — another
    * process advanced the table, or the dir was dropped and recreated
    * reusing version numbers — can only MISS (recompute), never serve
    * a wrong schema. */
  private final case class SnapSchemaEntry(version: Int,
      markerSig: (Long, Long), schema: StructType)
  private val snapSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, SnapSchemaEntry]()

  /** @param linkBase     snapshot the new version chains onto; its
    *                     manifest entries are linked unless overridden
    * @param linkEntries  explicit replacement for the base's entries —
    *                     the file-level merge path links only the
    *                     SURVIVING files/dirs of the base snapshot
    * @param ownDirInManifest false when `df` is empty (a merge that
    *                     deleted every row it rewrote): an empty
    *                     parquet directory must not become a scan root */
  private def commitStaged(df: DataFrame, tableDir: String,
      partitionCol: Option[String], note: Option[String],
      statsCols: Seq[String], linkBase: Option[Int],
      linkEntries: Option[Seq[String]] = None,
      ownDirInManifest: Boolean = true,
      deleteDf: Option[DataFrame] = None,
      posDeleteDf: Option[DataFrame] = None,
      transform: Option[Transform] = None,
      writeData: Boolean = true,
      branch: Option[String] = None,
      schemaStep: Option[SchemaStep] = None,
      clearSpec: Boolean = false,
      props: Option[Map[String, String]] = None,
      declaredOrder: Boolean = true,
      populate: Option[Path => Unit] = None,
      dropOwnDirIfEmpty: Boolean = false): Int = {
    val spark = df.sparkSession
    // hidden partitioning: derive the transform's partition column for
    // the write only — it never enters the logical schema (read() hides
    // the reserved prefix)
    require(!df.columns.exists(_.startsWith(TransformPrefix)),
      s"input columns must not use the reserved '$TransformPrefix' prefix")
    val (data, partBy) = transform match {
      case Some(t) =>
        require(partitionCol.isEmpty,
          "pass either partitionCol or transform, not both")
        require(df.columns.contains(t.source),
          s"transform source column '${t.source}' not in input")
        // the _tspec sidecar must round-trip through Transform.parse —
        // a name outside \w+ would write a spec readers cannot parse
        // and silently lose the partition-predicate pruning
        require(t.source.matches("\\w+"),
          s"transform source column '${t.source}' must match \\w+ " +
            "(the persisted spec format)")
        (df.withColumn(t.partCol, t.writeExpr(df)), Some(t.partCol))
      case None => (df, partitionCol)
    }
    val f = fs(spark, tableDir)
    val rootDir = new Path(tableDir)
    val rootSt =
      if (f.exists(rootDir)) f.listStatus(rootDir).toSeq else Nil
    val markers = markerVersions(rootSt)
    // Version slots are GLOBAL — branches share one number line — so
    // the create-exclusive slot race serializes ALL committers
    // whatever branch they target: a committer that read a stale head
    // necessarily contends for an already-claimed slot and loses.
    val next = markers.lastOption.getOrElse(0) + 1
    val branched =
      rootSt.exists(_.getPath.getName.startsWith(BranchPrefix))
    val targetBranch = branch.getOrElse(MainBranch)
    require(branched || targetBranch == MainBranch,
      s"no branch '$targetBranch' at $tableDir: createBranch first")
    // The head this commit replaces, resolved against the SAME listing
    // as `next`: a marker that appears after the listing costs us the
    // slot race rather than slipping past the base check.
    val head =
      if (!branched) next - 1
      else branchHeadIn(f, tableDir, rootSt, markers, targetBranch)
    // An append's linked base must still be its branch's head —
    // chaining onto a superseded version would silently drop the
    // interleaved commit's rows from the new manifest.
    // `nextSchema`, when set, is the schema the PUBLISHED snapshot
    // will read with — derived structurally on the clean append path
    // and fed to [[snapSchemaCache]] after the marker lands.
    var nextSchema: Option[StructType] = None
    linkBase.foreach { b =>
      if (b != head) throw new CommitRaceException(
        s"append base v=$b is no longer the head of '$targetBranch' " +
          s"at $tableDir (head is v=$head); retry from the new version")
      // Reconcile the batch's schema against the snapshot it links
      // BEFORE publishing: a linked commit whose columns cannot union
      // (e.g. int vs map) would otherwise commit fine and then poison
      // every subsequent read()/compact() at unionByName — an
      // unreadable table. (The old copy-on-write append failed such
      // batches up-front; linking must keep that contract.) A no-data
      // commit (tombstone) adds nothing to the union — skip the probe.
      //
      // COST: building the snapshot's read plan just to learn its
      // schema is ~200 ms of driver work per commit (file listing +
      // footer merge + analysis) — the dominant constant of a
      // sequential append chain. The schema of version b is immutable,
      // so it is cached per table dir, fingerprinted by (version,
      // commit-marker mtime+len) from the root listing this commit
      // already holds — a drop-and-recreate at the same path changes
      // the marker signature and misses. The common append (every
      // batch column exists in the snapshot with the same type, or is
      // brand new) then reconciles structurally; anything else (type
      // coercion, case-ambiguous names) takes the full unionByName
      // probe over EMPTY frames, which preserves the exact analyzer
      // semantics without the table-scan plan.
      if (writeData) {
        val sig = rootSt
          .find(_.getPath.getName == s"$MarkerPrefix$b")
          .map(st => (st.getModificationTime, st.getLen))
        val snapSchema = Option(snapSchemaCache.get(tableDir))
          .filter(e => e.version == b && sig.contains(e.markerSig))
          .map(_.schema)
          .getOrElse(read(spark, tableDir, Some(b)).schema)
        val resolver = spark.sessionState.conf.resolver
        def matched(fd: StructField): Array[StructField] =
          snapSchema.fields.filter(sf => resolver(sf.name, fd.name))
        // the fast path also demands the BATCH's own names be
        // unambiguous (no duplicates, no case-variants under a
        // case-insensitive resolver) — two batch fields resolving to
        // one snapshot field would each pass the per-field check and
        // skip the probe that exists to refuse exactly that batch
        val batchUnambiguous = {
          val ns = df.schema.fields.map(_.name)
          ns.indices.forall(i => !ns.indices.exists(j =>
            j != i && resolver(ns(i), ns(j))))
        }
        val clean = batchUnambiguous &&
          df.schema.fields.forall(fd => matched(fd) match {
          // catalogString equality = same type modulo nullability
          // (sameType is private[sql]); anything else → full probe
          case Array(one) =>
            one.dataType.catalogString == fd.dataType.catalogString
          case Array() => true // new column: allowMissingColumns
          case _ => false      // ambiguous match: let the analyzer rule
        })
        if (clean) {
          val extra = df.schema.fields
            .filter(fd => matched(fd).isEmpty)
            .map(_.copy(nullable = true))
          nextSchema = Some(StructType(snapSchema.fields ++ extra))
        } else {
          try spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              snapSchema)
            .unionByName(df.limit(0), allowMissingColumns = true)
            .schema
          catch { case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"append schema incompatible with snapshot v=$b at " +
                s"$tableDir: ${e.getMessage}", e)
          }
        }
      }
    }
    val uuid = java.util.UUID.randomUUID().toString
    val stage = new Path(tableDir, s".stage-v$next-$uuid")
    // set false by the writeData branch when its harvested task
    // metrics show a zero-row write — the fact [[mergeFiles]] used to
    // pay a separate isEmpty action (plus a persist around the
    // rewrite) to learn BEFORE committing
    var wroteRows = true
    // Merge-on-read tombstone sets (key-scale, one file each). On the
    // data-write path their Spark write jobs run on a side thread,
    // overlapping the commit's driver-side stats harvest and sidecar
    // writes (guide §2.6: overlap independent jobs) — started only
    // AFTER the empty-partitionBy fallback (which deletes and
    // recreates the whole stage), awaited with failures rethrown
    // before the manifest that references them is written. The side
    // thread pins its own job group so the main write's task-metrics
    // harvest can never attribute these tasks. Metadata-only and
    // import commits keep the sequential write (their stage layout
    // checks must not race a concurrent writer).
    var tombWrite: Option[java.util.concurrent.Future[_]] = None
    def writeTombstones(): Unit = {
      deleteDf.foreach(_.coalesce(1).write
        .parquet(new Path(stage, DeletesDir).toString))
      posDeleteDf.foreach(_.coalesce(1).write
        .parquet(new Path(stage, PosDeletesDir).toString))
    }
    def startTombstoneWrites(): Unit =
      if (deleteDf.isDefined || posDeleteDf.isDefined) {
        val pool =
          java.util.concurrent.Executors.newSingleThreadExecutor()
        tombWrite = Some(pool.submit(new Runnable {
          override def run(): Unit = {
            spark.sparkContext.setJobGroup(s"graft-tombstones-$uuid",
              "graft tombstone write")
            writeTombstones()
          }
        }))
        pool.shutdown()
      }
    // From the tombstone writes' start to their await, a failure must
    // not unwind past a Spark job still writing into the stage: cancel
    // its job group, await it, then drop the unpublished stage
    def abortTombstoneWrites(): Unit = tombWrite.foreach { fut =>
      spark.sparkContext.cancelJobGroup(s"graft-tombstones-$uuid")
      Try(fut.get())
    }
    val (linked, targetGen) = try {
      if (populate.isDefined) {
        // an IMPORT commit: the caller stages pre-existing parquet files
        // itself (hardlink/copy — no Spark write, no rewrite); counts
        // come from the foreign files' own footers, the one place the
        // footer pool is the right tool on the commit path
        f.mkdirs(stage)
        populate.get(stage)
        require(containsParquet(f, stage),
          s"import staged no parquet files at $stage")
        if (statsCols.nonEmpty) writeStats(spark, f, stage, statsCols)
        else writeCountStats(spark, f, stage)
      } else if (writeData) {
        // Parquet bloom filters and the declared write order are TABLE
        // PROPERTIES consumed AT WRITE TIME (Iceberg's
        // write.parquet.bloom-filter-enabled.column.<col> /
        // write.sort-order spellings): every data file written while
        // they are set carries footer blooms for the named columns —
        // evaluated EXECUTOR-side by parquet's row-group filtering on
        // =/IN probes, the point-lookup complement to min/max pruning
        // for high-cardinality keys whose ranges overlap every file —
        // and is internally sorted by the declared order. An explicit
        // `props` (CREATE … TBLPROPERTIES) wins; otherwise the table's
        // current map applies. `declaredOrder = false` lets an explicit
        // clustering strategy (z-order) opt out of the sort.
        val effWrite = props.orElse {
          if (head >= 1) Some(properties(spark, tableDir)) else None
        }.getOrElse(Map.empty)
        val distributed = applyDistribution(effWrite, data, partBy)
        val ordered =
          if (declaredOrder)
            applyWriteOrderFrom(effWrite, distributed, partBy)
          else distributed
        val w = ordered.write.mode("overwrite")
          .options(bloomWriteOptions(effWrite) ++
            compressionOptions(effWrite))
        val taskRows = harvestWriteCounts(spark) {
          partBy.fold(w)(c => w.partitionBy(c)).parquet(stage.toString)
        }
        // A partitionBy write of an EMPTY frame emits ZERO parquet files
        // — a schema-less scan root that would brick every later read.
        // Fall back to a schema-bearing unpartitioned empty write (the
        // plain CREATE TABLE shape); the _tspec sidecar below still
        // records the declared spec, which is vacuously true of zero
        // files and is what later commits INHERIT — this is exactly how
        // `CREATE TABLE … PARTITIONED BY` publishes its default spec
        // before any data exists.
        val allTaskRows =
          if (partBy.nonEmpty && !containsParquet(f, stage)) {
            f.delete(stage, true)
            harvestWriteCounts(spark) {
              df.limit(0).write.mode("overwrite").parquet(stage.toString)
            }
          } else taskRows
        // the tombstone writes overlap the driver-side stats/sidecar
        // work below (guide §2.6) — started strictly AFTER the
        // empty-partitionBy fallback above (which deletes and recreates
        // the whole stage), awaited before the manifest references them
        startTombstoneWrites()
        if (statsCols.nonEmpty) writeStats(spark, f, stage, statsCols)
        else writeCountStats(spark, f, stage, allTaskRows)
        // emptiness decides manifest membership below only when the
        // caller opted in; a zero task-metrics sum is re-verified
        // against the staged footers (driver-side, rare path) so a
        // listener hiccup can never drop a data-bearing dir
        if (dropOwnDirIfEmpty && allTaskRows.valuesIterator.sum == 0L)
          wroteRows = stagedDataFiles(f, stage).exists(p =>
            FsFast.footerRowCount(f,
              spark.sessionState.newHadoopConf(), new Path(p)) > 0L)
      } else f.mkdirs(stage) // metadata-only commit (rollback, tombstone)
      // The manifest this commit will publish (sans own dir) — assembled
      // HERE so property carry-forward below can reason about
      // reachability; linking chains the base's RAW lines: its
      // tombstones still apply to the data entries they cover.
      val linked0 = linkEntries
        .orElse(linkBase.map(b => manifestLines(f, tableDir, b)))
        .getOrElse(Nil)
      // Table properties ride the manifest walk ([[properties]] consults
      // LINKED roots), so any commit whose new manifest no longer
      // references a _props-bearing root must CARRY the current map
      // forward or it would silently erase the table's properties
      // (Iceberg properties survive rewrite_data_files). That is decided
      // by REACHABILITY, not commit shape: a full commit links nothing; a
      // compact/merge links only SURVIVING entries, which may exclude (or
      // be empty of) the root that carried _props — e.g. a binpack that
      // rewrites every base file of a table whose properties configured
      // that very binpack. An explicit `props` (SET/UNSET, CREATE OR
      // REPLACE's declared set — possibly empty, which RESETS) always
      // wins.
      val effProps = props.orElse {
        // linkBase appends chain the head's FULL manifest — reachability
        // is preserved by construction, skip the probe on the hot path.
        // But ONLY when no linkEntries override it: a binpack passes
        // linkBase (its race base) AND linkEntries (the surviving
        // subset), and the SUBSET is what the manifest references — it
        // must take the reachability probe, or a pack that rewrites
        // every props-bearing root erases the table's properties
        // (regression-tested in ProcedureSpec).
        if (linkBase.isDefined && linkEntries.isEmpty) None
        else {
          val propsReachable = linked0.filterNot(isDeleteLine)
            .map(_.split("/").head).distinct.exists(vr =>
              f.exists(new Path(new Path(tableDir, vr), PropsFile)))
          if (propsReachable) None
          else Some(properties(spark, tableDir)).filter(_.nonEmpty)
        }
      }
      effProps.foreach { m =>
        // full-map snapshot (last-writer-wins): the newest linked root
        // carrying a _props sidecar IS the table's property state
        def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
        FsFast.put(f, new Path(stage, PropsFile),
          m.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
            .mkString("\n").getBytes("UTF-8"), overwrite = false)
      }
      if (clearSpec) {
        // [[setSpec]]'s explicit clear: the sentinel stops
        // currentTransform's inheritance walk at this version
        FsFast.put(f, new Path(stage, TspecFile),
          TspecNone.getBytes("UTF-8"), overwrite = false)
      } else if (!(dropOwnDirIfEmpty && !wroteRows))
        // an all-deleted rewrite records no spec decision — exactly the
        // old mergeFiles behavior (it passed transform = None then)
        transform.foreach(t => writeTspec(f, stage, t,
          df.schema(t.source).dataType.catalogString,
          spark.sessionState.conf.sessionLocalTimeZone))
      // branch + parent + generation sidecar, riding the atomic claim:
      // head lookups and fast-forward ancestry walks read it
      // ([[refInfo]]); the generation ties the commit to the CURRENT
      // incarnation of its branch so a later drop-and-recreate of the
      // name cannot adopt it ([[branchHeadIn]]'s fence)
      val targetGen =
        if (!branched) 0L
        else refEntriesFrom(rootSt, BranchPrefix)
          .filter(_._1 == targetBranch) match {
            case Nil => 0L
            case pins => resolveRef(pins)._4
          }
      // commit TIMESTAMP, 4th ref field: monotone PER TABLE by
      // construction (max of the parent commit's stamp and now — a
      // clock step backwards can't reorder history), so wall-clock
      // staleness (`graft.mv.staleness_seconds`, time-spelled bounds)
      // has a sound unit. Filesystem mtimes would not be: copies and
      // restores rewrite them silently; this stamp rides the immutable
      // ref sidecar instead. Older 3-field refs parse fine everywhere
      // (readers ignore extra fields / missing stamps degrade).
      val commitTs = math.max(System.currentTimeMillis(),
        if (head >= 1) commitTimestampIn(f, tableDir, head)
          .getOrElse(0L) else 0L)
      FsFast.put(f, new Path(stage, RefFile),
        s"$targetBranch\t$head\t$targetGen\t$commitTs"
          .getBytes("UTF-8"),
        overwrite = false)
      // schema-step sidecar ([[renameColumn]]/[[addColumn]]/
      // [[dropColumn]]): the chain step readers compose
      schemaStep.foreach { step =>
        val (file, payload) = step match {
          case RenameStep(_, from, to) => (RenameFile, s"$from\t$to")
          case AddStep(_, n, dt) => (AddColFile, s"$n\t${dt.catalogString}")
          case DropStep(_, n) => (DropColFile, n)
          case RetypeStep(_, n, dt) =>
            (RetypeFile, s"$n\t${dt.catalogString}")
        }
        FsFast.put(f, new Path(stage, file),
          payload.getBytes("UTF-8"), overwrite = false)
      }
      // tombstone sets land before the manifest references them: await
      // the overlapped write (rethrowing its failure), or write
      // sequentially on the paths that never started one
      tombWrite match {
        case Some(fut) =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        case None => writeTombstones()
      }
      (linked0, targetGen)
    } catch { case e: Throwable =>
      abortTombstoneWrites()
      Try(f.delete(stage, true))
      throw e
    }
    // a zero-row rewrite's own dir (an empty schema-bearing file)
    // stays OUT of the manifest unless nothing else would be in it —
    // the caller-side rewroteAll logic, decided from the write's own
    // metrics instead of a pre-commit isEmpty action
    val ownDirEff =
      if (dropOwnDirIfEmpty && !wroteRows) linked.isEmpty
      else ownDirInManifest
    val withOwn = if (ownDirEff) linked :+ s"v=$next" else linked
    val dirs = withOwn ++
      deleteDf.map(_ => s"$DeletePrefix" + s"v=$next/$DeletesDir") ++
      posDeleteDf.map(_ => s"$DeletePrefix" + s"v=$next/$PosDeletesDir")
    require(dirs.nonEmpty,
      s"commit at $tableDir would publish an empty manifest")
    FsFast.put(f, new Path(stage, ManifestFile),
      dirs.mkString("\n").getBytes("UTF-8"), overwrite = false)
    FsFast.touch(f, new Path(stage, ownerToken(uuid)), overwrite = false)
    val snapDir = new Path(tableDir, s"v=$next")
    def loserExit(cleanup: => Unit): Nothing = {
      cleanup
      throw new CommitRaceException(
        s"concurrent commit raced to version $next at $tableDir; " +
          "table unchanged, retry from the new current version")
    }
    val marker0 = new Path(tableDir, s"$MarkerPrefix$next")
    // Age of a pre-existing claim, captured BEFORE our rename attempt —
    // the attempt itself nests into the directory and refreshes its
    // modification time.
    val preClaimAge: Option[Long] =
      if (f.exists(snapDir)) Some(f.getFileStatus(snapDir).getModificationTime)
      else None
    // One ownership attempt. Handles both rename semantics: a
    // fails-on-existing-destination filesystem returns false (stage
    // intact); LocalFS/HDFS "succeed" by nesting the stage inside the
    // occupant — detected by the owner token missing from the root, and
    // the nested copy is pulled back out (or dropped if even that
    // fails). Never touches the occupant's files.
    def attempt(): Boolean = {
      if (!f.rename(stage, snapDir)) return false
      if (f.exists(new Path(snapDir, ownerToken(uuid)))) return true
      val nested = new Path(snapDir, stage.getName)
      if (!f.rename(nested, stage)) f.delete(nested, true)
      false
    }
    // Self-healing: an UNPUBLISHED v=N older than the grace period is a
    // committer that crashed between rename and marker — without
    // reclaim it wedges version N forever. A live committer publishes
    // its marker within microseconds of claiming, so the age gate keeps
    // the reclaim from racing one (the Iceberg orphan-cleanup pattern).
    // The age is read from the OCCUPANT'S OWNER TOKEN FILE, not the
    // directory: nest attempts refresh the directory's mtime (including
    // ours, and a racing committer's), but nobody touches the token —
    // so a fresh claim that replaced old debris after our first look is
    // correctly seen as live, never reclaimed. The directory pre-age is
    // only the fallback for tokenless (pre-protocol) debris.
    def staleDebris: Boolean = {
      if (f.exists(marker0)) return false
      val cutoff = System.currentTimeMillis() - ReclaimGraceMs
      // a concurrent reclaimer may rename the debris aside between any
      // two of these calls — treat a vanished directory as not-debris
      // (we then lose the claim race and exit as a clean loser)
      val tokens =
        try f.listStatus(snapDir).toSeq
          .filter(_.getPath.getName.startsWith("_owner_"))
        catch { case _: java.io.FileNotFoundException => return false }
      if (tokens.nonEmpty) tokens.map(_.getModificationTime).max < cutoff
      else preClaimAge.exists(_ < cutoff)
    }
    def reclaim(): Boolean =
      sweepStale(f, snapDir, new Path(tableDir, s".reclaim-v$next-$uuid"),
        System.currentTimeMillis() - ReclaimGraceMs)
    var owned = attempt()
    if (!owned && f.exists(stage) && staleDebris && reclaim())
      owned = attempt()
    if (!owned)
      loserExit(if (f.exists(stage)) f.delete(stage, true) else ())
    // Last-look ownership re-verify: if a (mis-judging) reclaimer swept
    // our freshly-claimed directory aside between the claim and here,
    // our token is gone from the root — publishing would bind our
    // marker/note to whatever occupies the slot now. Lose cleanly
    // instead; whoever holds the slot publishes its own data.
    if (!f.exists(new Path(snapDir, ownerToken(uuid)))) loserExit(())
    FsFast.put(f, marker0, // the commit point: atomic create-exclusive
      note.fold(Array.emptyByteArray)(_.getBytes("UTF-8")),
      overwrite = false)
    // Advance the branch ref — a floor CACHE only: the marker above is
    // the commit point, and branchHeadIn self-heals a crash between
    // the two by scanning markers above the stale floor.
    if (branched)
      moveRef(f, tableDir, BranchPrefix, targetBranch, next, targetGen)
    // Seed the schema cache for the snapshot just published — but
    // ONLY for the plain append shape, where the structural union
    // above is exactly what read() will see. Commit kinds that alter
    // the read schema through other channels (schema steps, explicit
    // linkEntries merges, imports) leave the cache alone; their next
    // consumer misses and recomputes from the table.
    nextSchema.foreach { sch =>
      if (linkEntries.isEmpty && schemaStep.isEmpty &&
          deleteDf.isEmpty && posDeleteDf.isEmpty && populate.isEmpty)
        Try(f.getFileStatus(marker0)).toOption.foreach(st =>
          snapSchemaCache.put(tableDir, SnapSchemaEntry(next,
            (st.getModificationTime, st.getLen), sch)))
    }
    next
  }

  /** Claim crash debris at `snapDir` by atomically renaming it ASIDE
    * (the rename succeeds for exactly one reclaimer — the source
    * vanishes for the rest), then VERIFY the captured directory is
    * still the stale debris observed earlier before deleting it: a
    * racing committer may have completed reclaim-and-fresh-claim of the
    * same slot between the caller's staleness check and our rename
    * (TOCTOU), and sweeping that would delete a live claim. A captured
    * FRESH owner token (mtime >= cutoff) is therefore renamed back into
    * place and the sweep reports failure — the caller loses the race
    * cleanly and the live committer never notices. If the slot was
    * re-claimed by a third committer in the microsecond the directory
    * was aside, the capture stays parked as `.reclaim-*` (never nested
    * into the occupant) for [[vacuum]] to sweep; its displaced owner
    * fails the pre-marker ownership re-verify and retries — data is
    * parked, never published under the wrong marker. */
  private[sources] def sweepStale(f: FileSystem, snapDir: Path,
      aside: Path, cutoff: Long): Boolean = {
    if (!f.rename(snapDir, aside)) return false
    val fresh =
      try f.listStatus(aside).exists(st =>
        st.getPath.getName.startsWith("_owner_") &&
          st.getModificationTime >= cutoff)
      catch { case _: java.io.FileNotFoundException => false }
    if (!fresh) { f.delete(aside, true); true }
    else {
      // live claim captured: put it back (the slot was vacated
      // microseconds ago, so it is normally still free) and lose
      if (!f.exists(snapDir)) f.rename(aside, snapDir)
      false
    }
  }

  /** Per-version marker annotations (empty string when none). */
  def commitNotes(spark: SparkSession, tableDir: String): Map[Int, String] = {
    val f = fs(spark, tableDir)
    committedVersions(spark, tableDir).map { v =>
      v -> readNote(f, tableDir, v)
    }.toMap
  }

  /** The `key=vN` pin in the HEAD commit's note, fragment-wise (split
    * ';') — the ONE parser for every note-pin consumer (`src` for
    * materialized views, `sigs`/`stats`/`centroids`/`codebooks` for
    * the index pairs), so a pin that shares its note with other
    * fragments (a TBLPROPERTIES commit carries pins forward) parses
    * identically everywhere. */
  def notePin(spark: SparkSession, tableDir: String,
      key: String): Option[Int] = {
    val v = currentVersion(spark, tableDir)
    if (v == 0) return None
    commitNotes(spark, tableDir).get(v).toSeq
      .flatMap(_.split(";")).map(_.trim)
      .collectFirst { case n if n.startsWith(s"$key=v") =>
        Try(n.stripPrefix(s"$key=v").toInt).toOption }
      .flatten
  }

  private def readNote(f: FileSystem, tableDir: String, v: Int): String = {
    val in = f.open(new Path(tableDir, s"$MarkerPrefix$v"))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Whether any commit NEWER than the one that carried
    * `stopNote` records `note` — the bounded form of a full
    * [[commitNotes]] scan: markers are read newest-first and the scan
    * stops as soon as it walks past `stopNote` (or runs out). A
    * long-running streaming sink calls this once per micro-batch, so
    * the cost must be O(commits since last applied batch), not
    * O(all versions) small-file reads (which grows unboundedly between
    * vacuums). */
  def noteRecorded(spark: SparkSession, tableDir: String,
      note: String, stopNote: Option[String] = None): Boolean = {
    val f = fs(spark, tableDir)
    val it = committedVersions(spark, tableDir).reverseIterator
    var found = false
    var done = false
    while (!done && it.hasNext) {
      val n = readNote(f, tableDir, it.next())
      if (n == note) { found = true; done = true }
      else if (stopNote.contains(n)) done = true
    }
    found
  }

  private val AppliedPrefix = "_applied_"

  private def checkStreamId(streamId: String): Unit =
    require(streamId.matches("[A-Za-z0-9_-]+"),
      s"streamId must be [A-Za-z0-9_-]+, got '$streamId'")

  /** Record that external stream `streamId` has applied its batch
    * `batchId` (a create-only watermark file; `=` separates the id from
    * the batch because `_` is legal INSIDE stream ids). Unlike the
    * in-marker note, these survive [[compact]] and [[vacuum]], so a
    * replayed batch is still detected after maintenance rewrote or
    * expired the commit that carried it. Batch ids are monotone per
    * stream, so only the newest watermark matters — older ones are
    * swept here, keeping the table at O(streams) watermark files.
    * Idempotent; real filesystem failures propagate (swallowing them
    * would silently strip the batch of its durable replay guard). */
  def recordApplied(spark: SparkSession, tableDir: String,
      streamId: String, batchId: Long): Unit = {
    checkStreamId(streamId)
    val f = fs(spark, tableDir)
    val p = new Path(tableDir, s"$AppliedPrefix$streamId=$batchId")
    if (!f.exists(p)) {
      try FsFast.touch(f, p, overwrite = false)
      catch { case e: java.io.IOException =>
        if (!f.exists(p)) throw e } // concurrent duplicate create is fine
    }
    appliedIds(f, tableDir, streamId).filter(_ < batchId).foreach { old =>
      f.delete(new Path(tableDir, s"$AppliedPrefix$streamId=$old"), false)
    }
  }

  private def appliedIds(f: org.apache.hadoop.fs.FileSystem,
      tableDir: String, streamId: String): Seq[Long] = {
    val dir = new Path(tableDir)
    if (!f.exists(dir)) Nil
    else {
      val pre = s"$AppliedPrefix$streamId="
      f.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith(pre) => s.stripPrefix(pre) }
        // a foreign/corrupt watermark name must not wedge the stream
        .flatMap(s => Try(s.toLong).toOption)
    }
  }

  /** Highest batch id recorded for `streamId`, if any. */
  def lastApplied(spark: SparkSession, tableDir: String,
      streamId: String): Option[Long] = {
    checkStreamId(streamId)
    val ids = appliedIds(fs(spark, tableDir), tableDir, streamId)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** Read a snapshot: the current one, or any retained version (time
    * travel). The scan unions the manifest's entries in commit order
    * (later commits may add columns — missing ones null-fill, the
    * same schema-evolution contract as before); consecutive entries
    * with identical schema AND identical basePath collapse into ONE
    * multi-root scan, so the common homogeneous append chain (a
    * streaming sink) plans as a single FileScan over many directories,
    * not a union of hundreds of nodes. Hive-PARTITIONED roots never
    * merge — each reads under its own `basePath` (a multi-root
    * partition-inferring scan throws CONFLICTING_DIRECTORY_STRUCTURES)
    * — and unionByName stitches them. [[compact]] bounds chain length
    * for good. */
  def read(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame =
    readSnapshot(spark, tableDir, version, withDeletes = true)

  /** [[read]] with merge-on-read tombstones optionally UNAPPLIED — the
    * provenance probe in [[mergeFiles]] needs raw scans: its
    * `input_file_name` projection must sit directly over the file scan
    * (a tombstone anti-join above the scan would blank it), and a
    * tombstone-free probe only OVER-approximates the touched set (the
    * rewrite itself applies tombstones, so deleted rows never
    * resurrect). */
  /** Assembled-plan memo for [[readSnapshot]]: a PUBLISHED (table,
    * version) resolves to the same immutable plan every time — same
    * manifest, same entries, same tombstones — yet assembling it costs
    * ~10-20 ms of driver work PER MANIFEST ENTRY (relation resolution,
    * file listing, union analysis), which made every `read()` of a
    * long-chained table a 200-400 ms tax and dominated the protocol
    * gates (~12 probes each). Keyed by the version root's owner-token
    * epoch (like [[schemaMemo]]): a drop-and-recreate at the same path
    * mints a fresh token, so a stale entry can only miss; an unknown
    * epoch ("?" — pre-protocol fixture, vacuumed root) skips the memo
    * and takes the normal path, preserving its error behavior.
    * Session-keyed (plans capture their session); bounded by wholesale
    * clear like the schema memo. */
  private val planMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int, Boolean, Boolean, String), DataFrame]()

  private def readSnapshot(spark: SparkSession, tableDir: String,
      version: Option[Int], withDeletes: Boolean,
      withMeta: Boolean = false): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val epoch = ownerEpoch(f, tableDir, s"v=$v")
    val memoKey =
      (spark, tableDir, v, withDeletes, withMeta, epoch)
    if (epoch != "?") {
      val hit = planMemo.get(memoKey)
      if (hit != null) return hit
    }
    val deletes =
      if (withDeletes) manifestDeletes(spark, f, tableDir, v) else Nil
    val chain = renameChain(f, tableDir, v)
    val scans = manifestDirs(f, tableDir, v).map { e =>
      val u = entryUnit(f, tableDir, e)
      // tombstones apply per data entry (only those NEWER than it), so
      // the applicable-set joins the grouping key — as does the
      // entry's pending rename-chain suffix
      (u, scanUnit(spark, u).schema,
        deletes.filter(_.ver > entryVer(e)).map(_.ver),
        chain.filter(_.ver > entryVer(e)))
    }
    // group runs of identical (basePath, schema, applicable deletes,
    // pending schema steps) into one multi-path read; a partitioned
    // root's basePath is itself, so it stays alone
    val grouped = scans.foldLeft(List.empty[(ScanUnit,
        org.apache.spark.sql.types.StructType, Seq[Int],
        Seq[SchemaStep])]) {
      case ((g, sch, dv, rn) :: rest, (u, s, d, r))
          if s == sch && g.basePath == u.basePath &&
            g.noHive == u.noHive && dv == d && rn == r =>
        (ScanUnit(g.paths ++ u.paths, g.basePath,
          g.epoch + "|" + u.epoch, g.noHive), sch, dv, rn) :: rest
      case (acc, (u, s, d, r)) => (u, s, d, r) :: acc
    }.reverse
    val assembled = hideDerived(grouped.map { case (u, _, dv, rn) =>
      val base = scanUnit(spark, u)
      // the provenance scan for positional deletes needs each row's
      // (file, ordinal): project the reader's hidden _metadata columns
      // right over the scan, before any join can mask them
      val scan =
        if (withMeta) base
          .withColumn(MetaFileCol, col("_metadata.file_path"))
          .withColumn(MetaPosCol, col("_metadata.row_index"))
        else base
      // schema steps BEFORE tombstones: the key frames were renamed
      // to the read version's names too, so the anti-joins line up
      // (adds/drops never touch a live tombstone's key columns — the
      // dropColumn guard — and an added column null-fills before the
      // join, matching the schema-evolved-key contract)
      applyDeletes(applySchemaSteps(scan, rn, Int.MinValue),
        deletes.filter(t => dv.contains(t.ver)))
    }.reduce(_.unionByName(_, allowMissingColumns = true)))
    if (epoch != "?") {
      planMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      if (planMemo.size > 2000) planMemo.clear()
      planMemo.put(memoKey, assembled)
    }
    assembled
  }

  /** All retained committed snapshot versions (ascending). */
  def versions(spark: SparkSession, tableDir: String): Seq[Int] =
    committedVersions(spark, tableDir)

  /** TIME-based time travel — the `TIMESTAMP AS OF` analog next to
    * [[read]]'s `VERSION AS OF`: the latest retained snapshot whose
    * publish marker existed at `asOfMillis`. Versions publish in
    * order, so marker mtimes are monotone over retained versions;
    * vacuum can expire early history, in which case asking for a time
    * before the oldest retained snapshot is refused rather than
    * silently answered with a newer state. */
  def readAsOf(spark: SparkSession, tableDir: String,
      asOfMillis: Long): DataFrame =
    read(spark, tableDir, Some(versionAsOf(spark, tableDir, asOfMillis)))

  /** The version [[readAsOf]] resolves `asOfMillis` to — exposed so
    * other time-travel surfaces (the SQL catalog's `TIMESTAMP AS OF`)
    * can pin the SAME snapshot the programmatic read would serve,
    * including its expired-gap refusals. */
  def versionAsOf(spark: SparkSession, tableDir: String,
      asOfMillis: Long): Int = {
    val f = fs(spark, tableDir)
    val vs0 = committedVersions(spark, tableDir)
    // On a BRANCHED table, time travel follows MAIN's lineage: a
    // staging commit published between two main commits was never
    // main's state. Ancestors walk the per-version `_ref` parent
    // chain from the main head; pre-branch versions (no `_ref`) chain
    // v-1 linearly, so the walk terminates at the table's root.
    val vs = if (!hasBranchRefs(f, tableDir)) vs0 else {
      val anc = scala.collection.mutable.HashSet[Int]()
      var w = currentVersion(spark, tableDir)
      while (w > 0 && anc.add(w)) w = refInfo(f, tableDir, w)._2
      vs0.filter(anc.contains)
    }
    def mtime(v: Int) = f.getFileStatus(
      new Path(tableDir, s"$MarkerPrefix$v")).getModificationTime
    val v = vs.filter(mtime(_) <= asOfMillis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $asOfMillis at $tableDir " +
          s"(retained: $vs)"))
    // version numbers are dense: a retained successor other than v+1
    // means vacuum expired snapshots published somewhere between v's
    // and the successor's markers (tag-pinned islands after aggressive
    // vacuums make such gaps routine). Vacuum logs each expired
    // version's publish instant (`_expired.tsv`), so the gap resolves
    // EXACTLY: a time strictly before the first expired publish still
    // answers v (the state then WAS v — including a same-millisecond
    // tie, which is ambiguous and refused); at or past it the state is
    // expired and the read is refused rather than silently stale. A
    // pre-log gap (no entry for some expired version) degrades to the
    // conservative refusal of everything past v's own publish instant.
    val i = vs.indexOf(v)
    if (i < vs.length - 1 && vs(i + 1) != v + 1) {
      // a RETAINED version inside the lineage gap is another branch's
      // commit, not expired history: the state between main commits
      // simply was v — only truly-missing versions need the log
      val gap = ((v + 1) until vs(i + 1)).filterNot(vs0.contains)
      val log = expiredLog(f, tableDir, retained = vs0.toSet)
      if (gap.forall(log.contains)) {
        // only expired MAIN history makes the state unknowable; an
        // expired foreign-branch commit in the gap was never main's
        // state, so the answer is still v
        val shadow = gap.filter(g => log.get(g).exists {
          case (m, br) => br == MainBranch && m <= asOfMillis
        })
        if (shadow.nonEmpty) throw new IllegalArgumentException(
          s"v=${shadow.head} at $tableDir was published at " +
            s"${log(shadow.head)._1} (<= $asOfMillis) and expired; " +
            s"the state at $asOfMillis is not retained")
      } else if (asOfMillis > mtime(v))
        throw new IllegalArgumentException(
          s"history between v=$v and v=${vs(i + 1)} at $tableDir was " +
            s"expired; the state at $asOfMillis is not retained")
    }
    v
  }

  private val ExpiredLogFile = "_expired.tsv"

  /** Publish instants + branch of EXPIRED versions
    * (`version \t marker mtime [\t branch]` lines), appended by
    * [[vacuum]] as it removes markers — the memory [[readAsOf]] needs
    * to resolve times inside expired history exactly instead of
    * refusing whole gaps, and the branch distinguishes expired MAIN
    * history (state unknowable — refuse) from an expired foreign
    * branch's commits (never main's state — the gap resolves to the
    * prior main version). Legacy two-field lines parse as main, the
    * conservative refusal. Entries for versions in `retained` — still
    * published — are dropped (a vacuum that crashed between logging
    * and marker removal); an absent or unreadable log returns empty
    * and readAsOf degrades to its conservative refusal. */
  private def expiredLog(f: FileSystem, tableDir: String,
      retained: Set[Int]): Map[Int, (Long, String)] = {
    val p = new Path(tableDir, ExpiredLogFile)
    if (!f.exists(p)) return Map.empty
    Try {
      val in = f.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      text.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
        line.split("\t") match {
          case Array(v0, m0) => for {
            v <- Try(v0.toInt).toOption
            m <- Try(m0.toLong).toOption
          } yield v -> (m, MainBranch)
          case Array(v0, m0, br) => for {
            v <- Try(v0.toInt).toOption
            m <- Try(m0.toLong).toOption
          } yield v -> (m, br)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
      .filter { case (v, _) => !retained.contains(v) }
  }

  /** The net-weight column [[signedNet]] emits. */
  private val NetCol = "__net"

  /** Signed bag difference of two frames with the same columns, in ONE
    * shuffle: `a`'s rows weigh +1, `b`'s -1, grouped by every column,
    * keeping the groups whose net weight [[NetCol]] is nonzero — n > 0
    * means `a` holds n more copies of the row, n < 0 that `b` holds -n
    * more. Nulls group natively, the same row equality `exceptAll`
    * uses; an empty result means the two frames are equal as bags.
    * The one signed-union core behind [[readChanges]]' rewrite netting
    * and [[DerivedTable.bagEqual]]. */
  private[sources] def signedNet(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn(NetCol, lit(1L))
      .unionByName(b.select(cols: _*).withColumn(NetCol, lit(-1L)))
      .groupBy(cols: _*).agg(sum(col(NetCol)).as(NetCol))
      .filter(col(NetCol) =!= 0L)
  }

  /** Names of [[readChanges]]' two metadata columns. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** INCREMENTAL changelog read — the Iceberg incremental-scan /
    * `create_changelog_view` analog, the read half of the CDC story
    * next to [[applyChanges]]/cdcSink's write half: the row-level
    * changes each commit in `(fromVersion, toVersion]` introduced,
    * derived from MANIFEST DELTAS so a downstream consumer pays
    * O(changed files + tombstone keys) instead of diffing two full
    * snapshot reads. Output: the table's columns (at `toVersion`'s
    * names) plus [[ChangeTypeCol]] (`insert` | `delete`) and
    * [[CommitVersionCol]] (the commit that introduced the event).
    *
    * Per commit, events come from three delta channels:
    *   - data files ADDED net of REMOVED (append, CoW merge, full
    *     replace, rollback): live rows of each side — prior tombstones
    *     applied, so rows already dead never re-report — netted in
    *     ONE signed aggregate ([[signedNet]]: added rows +1, removed
    *     rows -1, grouped by every column), which cancels the carried
    *     rows a file rewrite merely re-homes (a [[compact]] commit
    *     nets to ZERO events) and emits |n| copies of each row whose
    *     net weight n is nonzero — the bag difference in both
    *     directions from one shuffle;
    *   - a new EQUALITY tombstone ([[deleteRows]]) emits its key rows
    *     as `delete` events — KEY columns only, other columns null,
    *     Iceberg's equality-delete contract (the file asserts key
    *     disappearance without verifying prior existence, so a key
    *     that matched nothing still emits, and a key whose row died in
    *     the same commit's rewrite may surface through both channels);
    *   - a new POSITIONAL tombstone ([[deleteWhere]]) resolves its
    *     (file, ordinal) coordinates back to FULL deleted rows by
    *     scanning only the referenced files.
    * Frames read at older versions rename forward through the
    * [[renameColumn]] chain, so every event carries `toVersion`'s
    * column names; a metadata-only commit (rename, tag) emits nothing.
    *
    * The walk follows `toVersion`'s parent lineage (on a branched
    * table, `fromVersion` must be an ancestor), and refuses if any
    * version in the range was [[vacuum]]-expired — its manifest, hence
    * its delta, is gone. A full-snapshot replace reports every old row
    * deleted and every new row inserted: O(both snapshots), which is
    * what that commit did. */
  def readChanges(spark: SparkSession, tableDir: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val f = fs(spark, tableDir)
    val cur = currentVersion(spark, tableDir)
    require(fromVersion >= 0 && fromVersion < toVersion,
      s"need 0 <= fromVersion < toVersion, got ($fromVersion, $toVersion)")
    require(toVersion <= cur,
      s"toVersion $toVersion exceeds current version $cur at $tableDir")
    val retained = committedVersions(spark, tableDir).toSet
    // parent-lineage walk (newest first); linear tables chain v-1
    val lineage = scala.collection.mutable.ArrayBuffer.empty[Int]
    var w = toVersion
    while (w > fromVersion && w > 0) { lineage += w
      w = refInfo(f, tableDir, w)._2 }
    require(w == fromVersion, s"v=$fromVersion is not an ancestor of " +
      s"v=$toVersion at $tableDir (lineage reached v=$w)")
    val gone = (lineage.toSeq ++
      (if (fromVersion > 0) Seq(fromVersion) else Nil))
      .filterNot(retained.contains)
    require(gone.isEmpty, s"cannot read changes at $tableDir: " +
      s"version(s) ${gone.sorted.mkString(", ")} were expired by vacuum")
    val chain = renameChain(f, tableDir, toVersion)
    val root = qualifiedRoot(f, tableDir)

    // live rows of a set of table-relative files as of a snapshot whose
    // tombstones are `tombs` — grouped per version dir (schema/epoch/
    // basePath cohesion), renamed forward to toVersion's columns
    def liveRows(rels: Seq[String], tombs: Seq[Tomb]): Option[DataFrame] =
      if (rels.isEmpty) None
      else Some(hideDerived(rels.groupBy(_.split("/").head).toSeq
        .sortBy(_._1).map { case (vdir, fls) =>
          val ver = vdir.stripPrefix("v=").toInt
          applyDeletes(
            applySchemaSteps(scanUnit(spark, ScanUnit(
              fls.map(r => new Path(tableDir, r).toString),
              Some(new Path(tableDir, vdir).toString),
              ownerEpoch(f, tableDir, vdir))), chain, ver),
            tombs.filter(_.ver > ver))
        }.reduce(_.unionByName(_, allowMissingColumns = true))))

    // a snapshot's tombstones with the (v, toVersion] rename suffix
    // applied, so their anti-join columns line up with liveRows frames
    def tombsAt(v: Int): Seq[Tomb] =
      if (v == 0) Nil
      else manifestDeletes(spark, f, tableDir, v).map {
        case EqTomb(ver, d) => EqTomb(ver, applyRenames(d, chain, v))
        case t => t
      }

    val events = lineage.reverse.flatMap { v =>
      val p = refInfo(f, tableDir, v)._2
      val prevLines =
        if (p == 0) Nil else manifestLines(f, tableDir, p)
      val curLines = manifestLines(f, tableDir, v)
      def fileSet(lines: Seq[String]): Set[String] =
        lines.filterNot(isDeleteLine)
          .flatMap(e => entryFiles(f, tableDir, e)).toSet
      if (prevLines == curLines) Nil // metadata-only commit
      else {
        val prevFiles = fileSet(prevLines)
        val curFiles = fileSet(curLines)
        val remLive =
          liveRows((prevFiles -- curFiles).toSeq.sorted, tombsAt(p))
        val addLive =
          liveRows((curFiles -- prevFiles).toSeq.sorted, tombsAt(v))
        def tagged(d: DataFrame, tp: String) = d
          .withColumn(ChangeTypeCol, lit(tp))
          .withColumn(CommitVersionCol, lit(v))
        // net the carried rows a rewrite re-homes — only when the two
        // sides share columns (a full replace that changed the schema
        // has nothing to net: every row genuinely changed). ONE signed
        // aggregate nets both directions: a row's net weight n says
        // the rewrite added n copies (n > 0, inserts) or removed -n
        // (n < 0, deletes), and each side emits |n| copies
        val rewriteEvents = (addLive, remLive) match {
          case (Some(a), Some(r))
              if a.columns.sorted.sameElements(r.columns.sorted) =>
            val n = col(NetCol)
            Seq(signedNet(a, r)
              .withColumn(ChangeTypeCol,
                when(n > 0L, lit("insert")).otherwise(lit("delete")))
              .withColumn(CommitVersionCol, lit(v))
              .withColumn(NetCol, explode(sequence(lit(1L), abs(n))))
              .drop(NetCol))
          case (ins, del) =>
            ins.map(tagged(_, "insert")).toSeq ++
              del.map(tagged(_, "delete"))
        }
        val tombEvents = curLines.filter(isDeleteLine)
          .filterNot(prevLines.contains).map { line =>
            val e = line.stripPrefix(DeletePrefix)
            val frame = scanUnit(spark, ScanUnit(
              deleteEntryFiles(f, tableDir, e).map(_.toString), None,
              ownerEpoch(f, tableDir, e.split("/").head)))
            if (e.endsWith("/" + PosDeletesDir)) {
              // coordinates name exact prior-live rows; scan ONLY the
              // referenced files (the collect is tombstone-scale)
              val touched = frame.select("file").distinct().collect()
                .map(r => decodePath(r.getString(0))
                  .stripPrefix(root + "/")).toSeq
              val scans = touched.groupBy(_.split("/").head).toSeq
                .sortBy(_._1).map { case (vdir, fls) =>
                  val ver = vdir.stripPrefix("v=").toInt
                  applySchemaSteps(scanUnit(spark, ScanUnit(
                    fls.map(r => new Path(tableDir, r).toString),
                    Some(new Path(tableDir, vdir).toString),
                    ownerEpoch(f, tableDir, vdir)))
                    .withColumn("__dfile", col("_metadata.file_path"))
                    .withColumn("__dpos", col("_metadata.row_index")),
                    chain, ver)
                }.reduce(_.unionByName(_, allowMissingColumns = true))
              hideDerived(scans.join(frame
                  .select(col("file").as("__dfile"),
                    col("pos").as("__dpos")),
                  Seq("__dfile", "__dpos"), "left_semi")
                .drop("__dfile", "__dpos"))
            } else applyRenames(frame, chain, v)
          }
        rewriteEvents ++ tombEvents.map(tagged(_, "delete"))
      }
    }
    // the empty full-schema shell anchors the output schema: EVERY
    // range carries all of toVersion's columns in stable order (an
    // equality-delete-only range would otherwise surface key columns
    // only — the doc'd null-padding contract, enforced here so
    // consumers like ChangeStreamSource see one schema per table, not
    // one per range)
    val shell = read(spark, tableDir, Some(toVersion)).limit(0)
      .withColumn(ChangeTypeCol, lit("insert"))
      .withColumn(CommitVersionCol, lit(0))
    if (events.isEmpty) shell
    else shell.unionByName(
      events.reduce(_.unionByName(_, allowMissingColumns = true)),
      allowMissingColumns = true)
  }

  /** APPEND as a new snapshot: the published version holds the previous
    * snapshot's rows plus `df` — Iceberg's append semantics, where every
    * snapshot is a consistent prefix of the ingested data and time
    * travel walks ingestion history. O(delta): only the new batch's
    * files are written; the manifest links the previous snapshot's
    * directories unchanged (EtlSpec "append chain is O(delta)"
    * asserts the prior version's files stay byte-identical).
    *
    * An append with NO explicit layout (neither `partitionCol` nor
    * `transform`) INHERITS the table's declared default spec
    * ([[currentTransform]] — a `CREATE TABLE … PARTITIONED BY` or
    * [[setSpec]] declaration, or simply the newest partitioned
    * write), exactly like a SQL `INSERT INTO`: the Iceberg
    * table-property contract, where appends keep the table's layout
    * unless the caller overrides it. [[setSpec]]`(None)` is the
    * explicit way to stop inheriting. A spec whose source column is
    * absent from `df` is skipped (degrade, never fail the write).
    * Full-snapshot [[commit]] does NOT inherit — a replace's
    * declaration (or its absence) IS the new spec, the REPLACE TABLE
    * semantic. */
  def append(df: DataFrame, tableDir: String,
      partitionCol: Option[String] = None,
      note: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None,
      branch: Option[String] = None): Int = withCommitRetry() {
    val spark = df.sparkSession
    val cur = branch.map(b => branchHead(spark, tableDir, b))
      .getOrElse(currentVersion(spark, tableDir))
    // (branch appends don't inherit: currentTransform reads the MAIN
    // lineage's spec, which may not be the branch's — pass the
    // transform explicitly there)
    val tspec =
      if (transform.isDefined || partitionCol.isDefined ||
        branch.isDefined) transform
      else currentTransform(spark, tableDir)
        .filter(t => df.columns.contains(t.source))
    if (cur == 0) commit(df, tableDir, partitionCol, note, statsCols,
      tspec, branch)
    else commitStaged(df, tableDir, partitionCol, note, statsCols,
      linkBase = Some(cur), transform = tspec, branch = branch)
  }

  /** IMPORT pre-existing parquet files as a snapshot commit — the
    * Iceberg `add_files` analog, and the INGEST complement of
    * [[exportSnapshot]]: another engine's parquet output (DuckDB
    * `COPY TO`, a pyarrow writer — the fixtures themselves are
    * pyarrow-written) becomes table data WITHOUT a decode-rewrite
    * cycle. Each source file is staged into the new version root by
    * HARDLINK when both sides are the local scheme on one volume
    * (O(1) per file, zero data I/O) and by a filesystem copy
    * otherwise — never referenced in place: the table owns a name
    * under its own version root, so vacuum's reference counting stays
    * correct and a later DELETE or rename-replace of the source path
    * (the parquet norm) cannot touch published history. (A hardlink
    * still shares the inode — a writer that mutates the source file
    * IN PLACE would show through; pass `link = false` for full
    * physical isolation.) Schema compatibility is
    * probed up front like a linked append (an un-unionable import
    * must fail before publishing, not poison every later read);
    * row-count sidecars come from the foreign files' footers. The
    * import lands as an unpartitioned entry — on a spec-declared
    * table it joins the mixed-layout inventory `.partitions` surfaces
    * (compact to restore a uniform layout). */
  /** Delta-CLONE-style table clone: resolve the source snapshot's
    * data-file list through [[exportSnapshot]] (inheriting its
    * refusals — live MoR tombstones, pending schema steps, and hive
    * layouts must compact first; the same honesty every raw-scan
    * consumer needs) and import it into an EMPTY `destDir` as one
    * commit. Files hardlink where the volume allows and copy
    * otherwise, so unlike a manifest-reference shallow clone the
    * clone owns its bytes — the source vacuums freely, the clone
    * never dangles. The source's table properties and declared
    * partition spec carry over (metadata-only commits), so future
    * writes to the clone behave like writes to the source. Returns
    * the clone's current version. */
  def cloneTable(spark: SparkSession, sourceDir: String,
      destDir: String, version: Option[Int] = None,
      link: Boolean = true): Int = {
    require(currentVersion(spark, destDir) == 0,
      s"clone target $destDir already has commits")
    val v = version.getOrElse(currentVersion(spark, sourceDir))
    val files = exportSnapshot(spark, sourceDir, Some(v))
    importFiles(spark, destDir, files,
      note = Some(s"CLONE of $sourceDir v=$v"), link = link)
    val props = properties(spark, sourceDir)
    if (props.nonEmpty)
      setProperties(spark, destDir, set = props,
        note = Some("CLONE properties"))
    currentTransform(spark, sourceDir).foreach(t =>
      setSpec(spark, destDir, Some(t), note = Some("CLONE spec")))
    currentVersion(spark, destDir)
  }

  def importFiles(spark: SparkSession, tableDir: String,
      sources: Seq[String], note: Option[String] = None,
      link: Boolean = true): Int = withCommitRetry() {
    require(sources.nonEmpty, "importFiles needs at least one source")
    val conf = spark.sessionState.newHadoopConf()
    val files: Seq[Path] = sources.flatMap { s =>
      val p = new Path(s)
      val sf = p.getFileSystem(conf)
      if (sf.getFileStatus(p).isFile) Seq(p)
      else FsFast.walkFiles(sf, p).collect {
        case e if e.name.endsWith(".parquet") => e.path
      }
    }
    require(files.nonEmpty,
      s"no parquet files under ${sources.mkString(", ")}")
    val df = spark.read.parquet(files.map(_.toString): _*)
    val cur = currentVersion(spark, tableDir)
    if (cur > 0)
      try read(spark, tableDir, Some(cur))
        .unionByName(df, allowMissingColumns = true).schema
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"imported schema incompatible with snapshot v=$cur at " +
            s"$tableDir: ${e.getMessage}", e)
      }
    val f = fs(spark, tableDir)
    def stageIn(stage: Path): Unit = files.zipWithIndex.foreach {
      case (src, i) =>
        val dst = new Path(stage, f"import-$i%05d-${src.getName}")
        val sf = src.getFileSystem(conf)
        val hardlinked = link &&
          ((FsFast.localPath(sf, src), FsFast.localPath(f, dst)) match {
            case (Some(a), Some(b)) =>
              Try(java.nio.file.Files.createLink(b, a)).isSuccess
            case _ => false
          })
        if (!hardlinked)
          org.apache.hadoop.fs.FileUtil.copy(sf, src, f, dst,
            /*deleteSource=*/ false, conf)
    }
    commitStaged(df, tableDir, None,
      note.orElse(Some(s"ADD FILES (${files.size})")), Nil,
      linkBase = if (cur > 0) Some(cur) else None,
      populate = Some(stageIn))
  }

  /** ROLLBACK to a retained snapshot — the Iceberg
    * `rollback_to_snapshot` analog: publishes a NEW version whose
    * manifest is `to`'s manifest, so the table's current content
    * becomes version `to`'s again while every intermediate version
    * stays time-travelable (history is never rewritten — undoing a bad
    * commit is itself a commit). Metadata-only: no data file is
    * written, copied, or read beyond a schema peek; O(1) in table
    * size. */
  /** METADATA-ONLY commit that re-links the current snapshot's
    * entries unchanged and records `note` — the pin-advance primitive
    * for incremental consumers ([[graft.sources.DerivedTable]]) whose
    * refresh window nets to zero changes: the cursor must still
    * travel (a stuck pin makes every later refresh re-cover the dead
    * range and eventually trips size bounds), and the note rides the
    * same atomic claim as any commit. O(manifest) driver I/O, no data
    * touched. */
  def commitNote(spark: SparkSession, tableDir: String,
      note: String): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    commitStaged(read(spark, tableDir, Some(cur)).limit(0), tableDir,
      partitionCol = None, note = Some(note), statsCols = Nil,
      linkBase = None,
      linkEntries = Some(manifestLines(f, tableDir, cur)),
      ownDirInManifest = false, writeData = false)
  }

  def rollback(spark: SparkSession, tableDir: String, to: Int,
      note: Option[String] = None): Int = withCommitRetry() {
    val vs = committedVersions(spark, tableDir)
    require(vs.contains(to),
      s"cannot rollback to v=$to at $tableDir (retained: $vs)")
    val f = fs(spark, tableDir)
    commitStaged(read(spark, tableDir, Some(to)).limit(0), tableDir,
      partitionCol = None, note = note, statsCols = Nil,
      linkBase = None,
      linkEntries = Some(manifestLines(f, tableDir, to)),
      ownDirInManifest = false, writeData = false)
  }

  /** RENAME a column — METADATA-ONLY, the Iceberg field-id rename
    * analog: publishes a new version whose manifest links every entry
    * of the current snapshot unchanged and whose `_rename` sidecar
    * records the step. No data file is rewritten; files written under
    * the old name keep resolving through the composed rename chain
    * ([[renameChain]] — identity by composition rather than stored
    * field ids), so the column's values never null out under the new
    * name (the failure a purely name-keyed union would produce).
    * Old snapshots keep their own names: time travel shows the schema
    * as it was written. [[vacuum]] pins rename versions while any
    * linked entry predates them; [[compact]] rewrites data under
    * current names, making old steps inert and reclaimable. */
  def renameColumn(spark: SparkSession, tableDir: String,
      from: String, to: String,
      note: Option[String] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"renamed column must be a plain identifier, got '$to' " +
        "(the persisted chain format)")
    val cols = read(spark, tableDir, Some(cur)).columns.toSeq
    require(cols.contains(from),
      s"no column '$from' at $tableDir v=$cur " +
        s"(columns: ${cols.mkString(", ")})")
    // CASE-INSENSITIVE collision check: Spark resolves names
    // case-insensitively, so 'V' next to 'v' is ambiguous, not new
    require(!cols.exists(_.equalsIgnoreCase(to)),
      s"column '$to' already exists at $tableDir v=$cur")
    val f = fs(spark, tableDir)
    // hint BEFORE the commit: readers probe it to skip chain lookups
    // on never-renamed tables; a false positive from a lost race is a
    // harmless extra probe, a missing hint would be silent wrong reads
    val hint = new Path(tableDir, RenamesHint)
    if (!f.exists(hint)) FsFast.touch(f, hint, overwrite = true)
    commitStaged(read(spark, tableDir, Some(cur)).limit(0), tableDir,
      partitionCol = None, note = note, statsCols = Nil,
      linkBase = Some(cur), ownDirInManifest = false,
      writeData = false, schemaStep = Some(RenameStep(0, from, to)))
  }

  /** ADD a column — METADATA-ONLY, the Iceberg new-optional-field
    * analog: publishes a version whose manifest links every entry
    * unchanged and whose `_addcol` sidecar records the (name, type)
    * step. Files written before the add null-fill the column at read
    * (exactly Iceberg's contract for a field no old file knows);
    * files written after carry it physically and the step no-ops on
    * them. Old snapshots keep their written schema — time travel
    * never shows the column before its add version. */
  def addColumn(spark: SparkSession, tableDir: String,
      name: String, dtype: DataType,
      note: Option[String] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"added column must be a plain identifier, got '$name' " +
        "(the persisted chain format)")
    // the sidecar persists the type as catalog DDL — only types that
    // round-trip through it are addable (anything else would make the
    // chain unreadable later, a silently-invisible column)
    require(Try(DataType.fromDDL(dtype.catalogString))
      .toOption.contains(dtype),
      s"type ${dtype.catalogString} does not round-trip the " +
        "persisted chain format")
    val cols = read(spark, tableDir, Some(cur)).columns.toSeq
    // CASE-INSENSITIVE: Spark resolves names case-insensitively, so
    // adding 'ID' next to 'id' would make every reference ambiguous
    require(!cols.exists(_.equalsIgnoreCase(name)),
      s"column '$name' already exists at $tableDir v=$cur")
    val f = fs(spark, tableDir)
    val hint = new Path(tableDir, RenamesHint)
    if (!f.exists(hint)) FsFast.touch(f, hint, overwrite = true)
    commitStaged(read(spark, tableDir, Some(cur)).limit(0), tableDir,
      partitionCol = None, note = note, statsCols = Nil,
      linkBase = Some(cur), ownDirInManifest = false,
      writeData = false, schemaStep = Some(AddStep(0, name, dtype)))
  }

  /** DROP a column — METADATA-ONLY, the Iceberg field-removal analog:
    * publishes a version whose `_dropcol` sidecar hides the column
    * from every OLDER entry (the sequence rule), so a column added or
    * re-written under the same name LATER surfaces again — which is
    * exactly Iceberg's field-id semantics for drop-then-re-add. Old
    * snapshots keep the column; no data file is touched. Refused
    * while any live merge-on-read equality tombstone keys on the
    * column (its anti-join would lose its key): `compact()` first. */
  def dropColumn(spark: SparkSession, tableDir: String, name: String,
      note: Option[String] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val cols = read(spark, tableDir, Some(cur)).columns.toSeq
    require(cols.contains(name),
      s"no column '$name' at $tableDir v=$cur " +
        s"(columns: ${cols.mkString(", ")})")
    require(cols.size > 1, s"cannot drop the only column of $tableDir")
    val f = fs(spark, tableDir)
    val tombKeyed = manifestDeletes(spark, f, tableDir, cur)
      .collect { case EqTomb(_, d) => d.columns.toSeq }
      .filter(_.contains(name))
    require(tombKeyed.isEmpty,
      s"cannot drop '$name': a live merge-on-read delete keys on it " +
        "(its anti-join would lose its key column); compact() the " +
        "table to absorb tombstones first")
    val hint = new Path(tableDir, RenamesHint)
    if (!f.exists(hint)) FsFast.touch(f, hint, overwrite = true)
    commitStaged(read(spark, tableDir, Some(cur)).limit(0), tableDir,
      partitionCol = None, note = note, statsCols = Nil,
      linkBase = Some(cur), ownDirInManifest = false,
      writeData = false, schemaStep = Some(DropStep(0, name)))
  }

  /** Type promotions that lose NOTHING on any value — the Iceberg
    * safe-evolution set (int → long, float → double, decimal precision
    * widening at fixed scale) plus the smaller integral widenings.
    * Everything else (narrowing, cross-family, scale changes) is
    * refused: a metadata-only retype rewrites no data, so an unsafe
    * cast would silently null or truncate old rows at read. */
  private def safePromotion(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision >= d1.precision
      case _ => false
    }

  /** WIDEN a column's type — METADATA-ONLY, the Iceberg type-promotion
    * analog: publishes a version whose `_retype` sidecar records the
    * step; readers cast OLDER entries' values in place (the sequence
    * rule), files written after carry the wide type physically, and
    * old snapshots keep the narrow type (time travel shows the written
    * schema). Only [[safePromotion]]s are accepted. Stats sidecars
    * written under the narrow type degrade that column's pruning to a
    * scan on pre-retype entries — correctness first; a `compact()`
    * rewrites stats at the wide type. */
  def retypeColumn(spark: SparkSession, tableDir: String, name: String,
      to: DataType, note: Option[String] = None): Int =
    withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val schema = read(spark, tableDir, Some(cur)).schema
    require(schema.fieldNames.contains(name),
      s"no column '$name' at $tableDir v=$cur " +
        s"(columns: ${schema.fieldNames.mkString(", ")})")
    val from = schema(name).dataType
    require(safePromotion(from, to),
      s"cannot retype '$name' ${from.catalogString} -> " +
        s"${to.catalogString}: only lossless promotions are " +
        "metadata-safe (int->long, float->double, decimal precision " +
        "widening at fixed scale)")
    require(Try(DataType.fromDDL(to.catalogString))
      .toOption.contains(to),
      s"type ${to.catalogString} does not round-trip the persisted " +
        "chain format")
    val f = fs(spark, tableDir)
    val hint = new Path(tableDir, RenamesHint)
    if (!f.exists(hint)) FsFast.touch(f, hint, overwrite = true)
    commitStaged(read(spark, tableDir, Some(cur)).limit(0), tableDir,
      partitionCol = None, note = note, statsCols = Nil,
      linkBase = Some(cur), ownDirInManifest = false,
      writeData = false, schemaStep = Some(RetypeStep(0, name, to)))
  }

  /** Absolute, URI-decoded filesystem path of the table root — the
    * prefix stripped to turn provenance/listing paths table-relative. */
  private def qualifiedRoot(f: FileSystem, tableDir: String): String =
    f.makeQualified(new Path(tableDir)).toUri.getPath

  /** Decode an `input_file_name()` value (URI-encoded) to a plain
    * filesystem path. */
  private def decodePath(raw: String): String =
    try new java.net.URI(raw).getPath
    catch { case _: java.net.URISyntaxException => raw }

  /** Table-relative DATA files under manifest entry `e` (itself for a
    * file entry; the recursive parquet listing for a directory,
    * excluding the `_stats` sidecar AND the `_deletes` tombstone dir —
    * a version that carries both data and a tombstone, the atomic
    * [[applyChanges]] shape, must never surface its key file as data:
    * a binpack or merge that packed those rows would resurrect deleted
    * keys). */
  private def entryFiles(f: FileSystem, tableDir: String,
      e: String): Seq[String] = {
    val p = new Path(tableDir, e)
    if (f.getFileStatus(p).isFile) Seq(e)
    else {
      val root = qualifiedRoot(f, tableDir)
      FsFast.walkFiles(f, p).collect {
        case en if en.name.endsWith(".parquet") &&
          en.parentName != StatsDir &&
          en.parentName != DeletesDir &&
          en.parentName != PosDeletesDir =>
          en.path.toUri.getPath.stripPrefix(root + "/")
      }
    }
  }

  /** Whether any parquet file exists under `p` (recursive). Driver
    * metadata-scale: short-circuits on the first hit. */
  private def containsParquet(f: FileSystem, p: Path): Boolean =
    f.exists(p) && FsFast.walkFiles(f, p).exists(_.name.endsWith(".parquet"))

  /** Scan a set of table-relative data files, each under its version
    * directory's basePath so hive partition values still materialize.
    * `deletes` (the snapshot's tombstones) are applied per version
    * group — only those NEWER than the group's files — so a rewrite or
    * binpack reading these files never resurrects merge-on-read-deleted
    * rows. */
  private def readFiles(spark: SparkSession, tableDir: String,
      rels: Seq[String],
      deletes: Seq[Tomb] = Nil): DataFrame = {
    val f = fs(spark, tableDir)
    // rewrites run at the CURRENT (main) version: rename each file
    // group forward so the rewritten output carries today's names (a
    // concrete version — the chain's lineage walk starts from it)
    val chain = renameChain(f, tableDir, currentVersion(spark, tableDir))
    hideDerived(rels.groupBy(_.split("/").head).toSeq.sortBy(_._1)
      .map { case (vdir, files) =>
        val ver = vdir.stripPrefix("v=").toInt
        applyDeletes(
          applySchemaSteps(scanUnit(spark, ScanUnit(
            files.map(r => new Path(tableDir, r).toString),
            Some(new Path(tableDir, vdir).toString),
            ownerEpoch(f, tableDir, vdir))), chain, ver),
          deletes.filter(_.ver > ver))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The file-level merge core shared by [[upsert]] and [[delete]]:
    * split the snapshot's files into touched (contain a row matching
    * the merge condition — exact provenance via `input_file_name`, so
    * the parquet scan of `matches` benefits from pushdown while the
    * decision never over- or under-approximates the way min/max ranges
    * would) and untouched; rewrite ONLY the touched files' surviving
    * rows plus `add`, and LINK everything untouched through the
    * manifest — directories whose files are all untouched as one
    * entry, partially-touched directories file-by-file. At 100 TB this
    * turns a single-key update from a full-table rewrite into a scan
    * plus a handful of file rewrites, which is Iceberg's copy-on-write
    * MERGE cost model. Returns None when nothing matches (caller
    * decides: append or no-op). A caller that already located the
    * touched files as a by-product of its own pass over the snapshot
    * ([[mergeInto]]'s fused cardinality probe) passes them as
    * `touchedAt` = (version probed, table-relative paths) and the
    * provenance scan is skipped; `matches` is then unused. */
  private def mergeFiles(spark: SparkSession, tableDir: String,
      matches: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame,
      partitionCol: Option[String],
      statsCols: Seq[String],
      pruneRange: Option[(String, Any, Any)] = None,
      transform: Option[Transform] = None,
      note: Option[String] = None,
      deleteDf: Option[DataFrame] = None,
      touchedAt: Option[(Int, Set[String])] = None): Option[Int] = {
    val f = fs(spark, tableDir)
    val root = qualifiedRoot(f, tableDir)
    val (v, touched) = touchedAt.getOrElse {
      val v = currentVersion(spark, tableDir)
      (v, provenance(spark, tableDir, v, root, matches, pruneRange))
    }
    if (touched.isEmpty) return None
    // data entries split into untouched (linked) and touched-survivor
    // files; tombstone lines link through unchanged — they still apply
    // to the older files they cover (the rewrite applies them to its
    // own input below, so rewritten rows never resurrect)
    val surviving = manifestLines(f, tableDir, v).flatMap { e =>
      if (isDeleteLine(e)) Seq(e)
      else {
        val files = entryFiles(f, tableDir, e)
        if (!files.exists(touched.contains)) Seq(e)
        else files.filterNot(touched.contains)
      }
    }
    // size the rewrite like the files it replaces: without this, a
    // one-file rewrite fans out to shuffle.partitions tiny part files.
    // The all-deleted-rewrite handling (drop the empty own dir from
    // the manifest, record no spec decision) moved INSIDE commitStaged
    // (`dropOwnDirIfEmpty`), decided from the write job's own task
    // metrics — the pre-commit `isEmpty` action (and the persist that
    // kept it from running the anti-joins twice) is gone: the rewrite
    // executes exactly once, in the commit's write job.
    val rewritten = rewrite(readFiles(spark, tableDir, touched.toSeq,
        manifestDeletes(spark, f, tableDir, v)))
      .coalesce(math.max(1, touched.size))
    Some(commitStaged(rewritten, tableDir,
      partitionCol, note = note, statsCols,
      linkBase = Some(v),
      linkEntries = Some(surviving),
      deleteDf = deleteDf,
      ownDirInManifest = true,
      transform = transform,
      dropOwnDirIfEmpty = true))
  }

  /** [[mergeFiles]]' provenance scan: the table-relative files of
    * snapshot `v` holding a row `matches` keeps. It reads the whole
    * snapshot by default; with a key range and a `_stats` sidecar it
    * reads only the files whose (min, max) intersect the range —
    * manifest-level pruning makes a narrow upsert's discovery cost
    * O(candidate files), not O(table). Sound because a pruned-away
    * file provably contains no row in the range, hence no match. */
  private def provenance(spark: SparkSession, tableDir: String, v: Int,
      root: String, matches: DataFrame => DataFrame,
      pruneRange: Option[(String, Any, Any)]): Set[String] = {
    val probe = pruneRange match {
      case Some((c, lo, hi)) => readWhereAllImpl(spark, tableDir,
        Seq((c, lo, hi)), Nil, Some(v), withDeletes = false)
      case None => readSnapshot(spark, tableDir, Some(v),
        withDeletes = false)
    }
    // collect is metadata-scale: one row per TOUCHED FILE
    matches(probe.withColumn("__file", input_file_name()))
      .select("__file").distinct().collect()
      .map(r => decodePath(r.getString(0)).stripPrefix(root + "/"))
      .toSet
  }

  /** Row-level MERGE (upsert) by key: rows of the current snapshot
    * whose key appears in `updates` are replaced, new keys are
    * appended, and the result publishes as one atomic commit — the
    * Iceberg copy-on-write `MERGE INTO` analog, at its cost: only the
    * FILES containing a matched key are rewritten; every other file of
    * the snapshot is linked unchanged through the manifest (see
    * [[mergeFiles]]). unionByName tolerates updates that add columns
    * (schema evolution, missing columns null-fill). Pre-merge versions
    * stay time-travelable. */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
      key: String, partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None): Int = {
    val (n, range) = mergePreflight(updates, key, "upsert updates")
    if (n == 0) return currentVersion(spark, tableDir)
    val keys = updates.select(key).distinct()
    mergeFiles(spark, tableDir,
      matches = _.join(keys, Seq(key), "left_semi"),
      rewrite = _.join(keys, Seq(key), "left_anti")
        .unionByName(updates, allowMissingColumns = true),
      partitionCol, statsCols, range, transform)
      // no existing key matched: the whole batch is new rows — O(delta)
      .getOrElse(append(updates, tableDir, partitionCol,
        statsCols = statsCols, transform = transform))
  }

  /** SUPERSEDE live tombstones: drop `ids` from a sibling tombstone
    * table (one commit), a no-op when the table is absent or none of
    * the ids are tombstoned. Shared by the index upsert paths — after
    * an upsert replaced an id's stored rows, its tombstone must lift
    * or the fresh rows stay invisible. */
  def dropTombstones(spark: SparkSession, tombsDir: String,
      ids: DataFrame, key: String): Unit = {
    if (currentVersion(spark, tombsDir) == 0) return
    val tombs = read(spark, tombsDir).select(col(key))
    if (!tombs.join(broadcast(ids.select(col(key))), Seq(key),
        "left_semi").isEmpty)
      commit(tombs.join(broadcast(ids.select(col(key))), Seq(key),
        "left_anti"), tombsDir)
  }

  /** Row-GROUP merge by key: every current row whose `key` appears in
    * `groups` is replaced by the frame's rows for that key, new keys
    * append — the MULTI-ROW-PER-KEY sibling of [[upsert]], for tables
    * where a key owns a row GROUP rather than a row (an inverted
    * index's postings list, an order's line items). Same CoW shape:
    * only the files containing a matched key rewrite (stats-pruned by
    * the key range), every other file links unchanged, one atomic
    * commit. Duplicate keys in `groups` are the point here, so only
    * null keys refuse (they never match the merge's equality joins). */
  def upsertGroups(spark: SparkSession, tableDir: String,
      groups: DataFrame, key: String,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      note: Option[String] = None): Int = {
    val pre = groups.agg(count(lit(1)), count(col(key)),
      min(col(key)), max(col(key))).head()
    require(pre.getLong(0) == pre.getLong(1),
      s"upsertGroups rows contain a null '$key' — a null key never " +
        "matches the merge's equality joins, so its rows would append " +
        "forever instead of replacing")
    if (pre.getLong(0) == 0) return currentVersion(spark, tableDir)
    if (currentVersion(spark, tableDir) == 0)
      return commit(groups, tableDir, partitionCol, note, statsCols)
    val range =
      if (pre.isNullAt(2)) None else Some((key, pre.get(2), pre.get(3)))
    val keys = groups.select(key).distinct()
    mergeFiles(spark, tableDir,
      matches = _.join(keys, Seq(key), "left_semi"),
      rewrite = _.join(keys, Seq(key), "left_anti")
        .unionByName(groups, allowMissingColumns = true),
      partitionCol, statsCols, range, None, note)
      // no existing key matched: the whole batch is new groups —
      // O(delta) linked append
      .getOrElse(append(groups, tableDir, partitionCol,
        statsCols = statsCols, note = note))
  }

  /** ONE pre-flight action over a merge's (small) update side, shared
    * by [[upsert]] and [[applyChanges]]: row count, MERGE INTO's
    * duplicate-key rejection (Iceberg/Delta reject multi-source rows
    * per key — silently appending both would break key uniqueness
    * forever), NULL-key rejection (a null key never matches the merge's
    * equality joins, so every null-keyed upsert would APPEND another
    * null-key row instead of replacing the last one — quietly eroding
    * key uniqueness; reject up-front rather than corrupt slowly), and
    * the key bounds that stats-prune the provenance scan (every matched
    * row's key lies in [min, max] of the update keys, so the range
    * soundly bounds it). */
  private def mergePreflight(updates: DataFrame, key: String,
      what: String): (Long, Option[(String, Any, Any)]) = {
    // tuple-keyed upserts run through applyChangesKeys, whose signed
    // key-union aggregation covers this AND the delete-side facts in
    // one job — this single-key preflight serves the plain upsert path
    val pre = updates.agg(
      count(lit(1)), count(col(key)), count_distinct(col(key)),
      min(col(key)), max(col(key))).head()
    val (n, nonNull, distinctNonNull) =
      (pre.getLong(0), pre.getLong(1), pre.getLong(2))
    require(n == nonNull,
      s"$what contain a null value of key '$key' " +
        "(null keys cannot merge: they match no existing row and " +
        "would append forever)")
    require(nonNull == distinctNonNull,
      s"$what contain duplicate values of key '$key'")
    val range =
      if (n == 0 || pre.isNullAt(3)) None
      else Some((key, pre.get(3), pre.get(4)))
    (n, range)
  }

  /** Row-level DELETE: publish a new snapshot without the rows matching
    * `pred` — the Iceberg copy-on-write `DELETE FROM` analog: only the
    * files CONTAINING a matching row are rewritten, the rest link
    * unchanged (see [[mergeFiles]]). SQL semantics: only rows where
    * `pred` is TRUE are deleted; rows where it evaluates NULL are kept
    * (a bare `filter(!pred)` would silently drop them too). A delete
    * matching nothing is a no-op returning the current version. */
  def delete(spark: SparkSession, tableDir: String,
      pred: Column,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None): Int =
    mergeFiles(spark, tableDir,
      matches = _.filter(coalesce(pred, lit(false))),
      rewrite = _.filter(not(coalesce(pred, lit(false)))),
      partitionCol, statsCols, transform = transform)
      .getOrElse(currentVersion(spark, tableDir))

  /** Row-level UPDATE: publish a new snapshot where every row matching
    * `pred` has each `set` column replaced by its value expression —
    * the Iceberg copy-on-write `UPDATE` analog, at its cost model:
    * only the files CONTAINING a matching row are rewritten, the rest
    * link unchanged through the manifest ([[mergeFiles]]). Value
    * expressions evaluate against the OLD row (standard SQL UPDATE:
    * `SET a = b, b = a` swaps) and are cast to the column's existing
    * type (store assignment); rows where `pred` is NULL are kept
    * UNMODIFIED (three-valued logic, like [[delete]]). A no-match
    * update is a no-op returning the current version. This is the
    * engine half of SQL `UPDATE graft.db.t SET ... WHERE ...`
    * ([[graft.plans.RowLevelDmlRule]]). */
  def updateWhere(spark: SparkSession, tableDir: String, pred: Column,
      set: Seq[(String, Column)], note: Option[String] = None): Int = {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val dup = set.groupBy(_._1).collect { case (c, as) if as.size > 1 => c }
    require(dup.isEmpty,
      s"updateWhere SET assigns a column twice: ${dup.mkString(", ")}")
    val schema = read(spark, tableDir, Some(cur)).schema
    val unknown = set.map(_._1).filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"updateWhere SET columns not in table at $tableDir: " +
        unknown.mkString(", "))
    val byName = set.toMap
    val hit = coalesce(pred, lit(false))
    // rewritten files inherit the table's hidden-transform layout
    val tspec = currentTransform(spark, tableDir)
      .filter(t => schema.fieldNames.contains(t.source))
    mergeFiles(spark, tableDir,
      matches = _.filter(hit),
      rewrite = d => d.select(schema.fields.toSeq.map { f =>
        byName.get(f.name) match {
          case Some(v) =>
            when(hit, v.cast(f.dataType)).otherwise(col(f.name))
              .as(f.name)
          case None => col(f.name)
        }
      }: _*),
      partitionCol = None, statsCols = Nil, note = note,
      transform = tspec)
      .getOrElse(cur)
  }

  /** One WHEN clause of a [[mergeInto]]. Column expressions reference
    * the target row qualified `__t.<col>` and the source row
    * `__s.<col>` (the aliases [[mergeInto]] establishes); a NULL
    * condition never fires its clause (SQL three-valued logic). */
  sealed trait MergeClause { def condition: Option[Column] }
  /** WHEN MATCHED / NOT MATCHED BY SOURCE ... THEN UPDATE SET. */
  final case class MergeUpdate(condition: Option[Column],
      set: Seq[(String, Column)]) extends MergeClause
  /** WHEN MATCHED / NOT MATCHED BY SOURCE ... THEN DELETE. */
  final case class MergeDelete(condition: Option[Column])
      extends MergeClause
  /** WHEN NOT MATCHED [BY TARGET] ... THEN INSERT; target columns
    * absent from `values` land NULL (SQL INSERT column-list form). */
  final case class MergeInsert(condition: Option[Column],
      values: Seq[(String, Column)]) extends MergeClause

  /** Full SQL MERGE INTO semantics as one atomic copy-on-write commit —
    * the general form of [[upsert]]/[[applyChanges]] (which cover the
    * keyed-equality fast path): an arbitrary `on` join condition,
    * ordered first-match-wins WHEN clauses with optional extra
    * conditions, and all three row populations —
    *
    *  - target rows MATCHED by a source row: first matching
    *    update/delete clause applies; no clause matching keeps the row;
    *  - source rows matching NO target row: first matching insert
    *    clause applies; none matching drops the source row;
    *  - target rows NOT MATCHED BY SOURCE: like matched, against the
    *    `notMatchedBySource` clauses.
    *
    * Cost model is Iceberg's copy-on-write MERGE: one provenance scan
    * finds the files containing an affected row (matched rows when any
    * matched clause exists, plus not-matched-by-source rows when those
    * clauses exist — the latter can touch every file, which is the
    * inherent price of NOT MATCHED BY SOURCE at any scale), only those
    * files rewrite, inserts ride the same single commit. The
    * Iceberg/Delta cardinality contract is enforced up front: a target
    * row matched by MORE than one source row fails the merge (its
    * update would be nondeterministic) — checked by grouping the
    * matched scan on exact (file, row-ordinal) coordinates, never a
    * guess. Without NOT MATCHED BY SOURCE clauses that check and the
    * provenance scan are ONE pass over target ⋈ source: the per-row
    * match counts roll up to each file's maximum, a maximum above 1
    * refuses, and the files collected are exactly the touched set
    * (files holding a LIVE matched row). Source rows may match many
    * target rows freely.
    * Update/insert values cast to the column's existing type; clause
    * and join conditions see NULL as false. A merge where nothing
    * matches any clause is a no-op returning the current version. */
  def mergeInto(spark: SparkSession, tableDir: String,
      source: DataFrame, on: Column,
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeInsert] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      note: Option[String] = None): Int = {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    require(matched.forall(!_.isInstanceOf[MergeInsert]),
      "matched clauses must be MergeUpdate or MergeDelete")
    require(notMatchedBySource.forall(!_.isInstanceOf[MergeInsert]),
      "notMatchedBySource clauses must be MergeUpdate or MergeDelete")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto needs at least one clause")
    val schema = read(spark, tableDir, Some(cur)).schema
    for (c <- matched ++ notMatched ++ notMatchedBySource) {
      val cols = c match {
        case MergeUpdate(_, s) => s.map(_._1)
        case MergeInsert(_, v) => v.map(_._1)
        case _ => Nil
      }
      val unknown = cols.filterNot(schema.fieldNames.contains)
      require(unknown.isEmpty, "merge clause references columns not " +
        s"in table at $tableDir: ${unknown.mkString(", ")}")
      val dup = cols.groupBy(identity)
        .collect { case (n, as) if as.size > 1 => n }
      require(dup.isEmpty,
        s"merge clause assigns a column twice: ${dup.mkString(", ")}")
    }
    // the matched? marker and insert-action index must be columns no
    // side can collide with
    val mark = "__graft_merge_matched"
    for (reserved <- Seq(mark, "__graft_merge_act"))
      require(!schema.fieldNames.contains(reserved) &&
        !source.columns.contains(reserved),
        s"'$reserved' is reserved by mergeInto")
    val src = source.withColumn(mark, lit(true)).alias("__s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cond(c: Option[Column]) = coalesce(c.getOrElse(lit(true)),
      lit(false))
    try {
      // —— cardinality contract (only matched clauses can trip it) ——
      // grouping the matched scan on exact (file, row-ordinal) counts
      // each target row's source matches; rolled up per file, the
      // same pass also names the files holding a matched row. Without
      // NOT MATCHED BY SOURCE clauses those ARE the touched files, so
      // the one collect serves the check and the provenance probe
      val fused: Option[Set[String]] = if (matched.isEmpty) None else {
        val t = readSnapshot(spark, tableDir, Some(cur),
          withDeletes = true, withMeta = true).alias("__t")
        val perRow = t.join(src, on, "inner")
          .groupBy(col(MetaFileCol), col(MetaPosCol))
          .agg(count(lit(1)).as("__n"))
        def refuse(multi: Boolean): Unit = require(!multi,
          "MERGE cardinality violation: a target row matched more " +
            "than one source row (the update/delete would be " +
            "nondeterministic) — deduplicate the source on the merge " +
            "keys first")
        if (notMatchedBySource.nonEmpty) {
          refuse(!perRow.filter(col("__n") > 1).isEmpty)
          None
        } else {
          // metadata-scale: one row per file holding a matched row
          val perFile = perRow.groupBy(col(MetaFileCol))
            .agg(max(col("__n")).as("__m")).collect()
          refuse(perFile.exists(_.getLong(1) > 1))
          val root = qualifiedRoot(fs(spark, tableDir), tableDir)
          Some(perFile.map(r => decodePath(r.getString(0))
            .stripPrefix(root + "/")).toSet)
        }
      }
      // —— which target rows are affected → which files rewrite ——
      val anyNmbs = notMatchedBySource.map(c => cond(c.condition))
        .reduceOption(_ || _).getOrElse(lit(false))
      def touches(d: DataFrame): DataFrame = {
        val t = d.alias("__t")
        val viaMatch =
          if (matched.isEmpty) t.limit(0)
          else t.join(src, on, "left_semi")
        val viaNmbs =
          if (notMatchedBySource.isEmpty) t.limit(0)
          else t.join(src, on, "left_anti").filter(anyNmbs)
        viaMatch.unionByName(viaNmbs)
      }
      // —— the rewrite: full WHEN-clause semantics per touched row ——
      // when any MATCHED clause exists, one left-outer join recovers
      // each row's matching source row (unique by the cardinality
      // check); CASE chains apply the FIRST clause whose condition
      // holds — Spark's CaseWhen evaluates branches in order, which IS
      // the SQL MERGE clause order.
      val isMatched = col(mark).isNotNull
      val branches: Seq[(Column, MergeClause)] =
        matched.map(c => (isMatched && cond(c.condition), c)) ++
          notMatchedBySource.map(c => (!isMatched && cond(c.condition), c))
      def applyClauses(j: DataFrame): DataFrame = {
        val keep = branches.foldLeft(null: Column) { case (acc, (hit, c)) =>
          val k = lit(!c.isInstanceOf[MergeDelete])
          if (acc == null) when(hit, k) else acc.when(hit, k)
        } match { case null => lit(true); case w => w.otherwise(lit(true)) }
        val outCols = schema.fields.toSeq.map { f =>
          val old = col(s"__t.${f.name}")
          branches.foldLeft(null: Column) { case (acc, (hit, c)) =>
            val v = c match {
              case MergeUpdate(_, set) => set.toMap.get(f.name)
                .map(_.cast(f.dataType)).getOrElse(old)
              case _ => old // delete branches are filtered by `keep`
            }
            if (acc == null) when(hit, v) else acc.when(hit, v)
          } match {
            case null => old.as(f.name)
            case w => w.otherwise(old).as(f.name)
          }
        }
        j.filter(keep).select(outCols: _*)
      }
      def rewrite(d: DataFrame): DataFrame =
        if (matched.nonEmpty)
          applyClauses(d.alias("__t").join(src, on, "left_outer"))
        else {
          // With NO matched clause the cardinality contract does not
          // apply — SQL permits a target row to match many source rows
          // when no MATCHED clause could act on it — so the left-outer
          // join above would emit such a row once PER source match,
          // silently duplicating it in the committed snapshot. Derive
          // the matched mark without row multiplication instead: a
          // semi/anti split yields each touched row exactly once, and
          // a left-outer join against the EMPTY source pads the source
          // columns as NULL so every clause expression still resolves
          // (none can observe a value: matched clauses don't exist and
          // not-matched-by-source rows have no source row by
          // definition). The semi side overrides the mark to true so
          // the NMBS branches stay dead for rows that DID match.
          val pad = src.limit(0)
          val hit = d.alias("__t").join(src, on, "left_semi")
            .join(pad, lit(true), "left_outer")
            .withColumn(mark, lit(true))
          val miss = d.alias("__t").join(src, on, "left_anti")
            .join(pad, lit(true), "left_outer")
          applyClauses(hit).unionByName(applyClauses(miss))
        }
      // —— inserts: source rows with no target match ——
      val inserts: Option[DataFrame] = if (notMatched.isEmpty) None else {
        val t = read(spark, tableDir, Some(cur)).alias("__t")
        val nm = src.join(t, on, "left_anti")
        val idx = notMatched.zipWithIndex.foldLeft(null: Column) {
          case (acc, (c, i)) =>
            if (acc == null) when(cond(c.condition), i + 1)
            else acc.when(cond(c.condition), i + 1)
        }.otherwise(0)
        val outCols = schema.fields.toSeq.map { f =>
          notMatched.zipWithIndex.foldLeft(null: Column) {
            case (acc, (c, i)) =>
              val v = c.values.toMap.get(f.name).map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType))
              if (acc == null) when(col("__graft_merge_act") === i + 1, v)
              else acc.when(col("__graft_merge_act") === i + 1, v)
          }.otherwise(lit(null).cast(f.dataType)).as(f.name)
        }
        Some(nm.withColumn("__graft_merge_act", idx)
          .filter(col("__graft_merge_act") > 0).select(outCols: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
      try {
        val rewriteAll: DataFrame => DataFrame = inserts match {
          case Some(ins) => d => rewrite(d)
            .unionByName(ins, allowMissingColumns = true)
          case None => rewrite
        }
        // rewritten files and inserts inherit the table's layout
        val tspec = currentTransform(spark, tableDir)
          .filter(t => schema.fieldNames.contains(t.source))
        mergeFiles(spark, tableDir, touches, rewriteAll,
          partitionCol = None, statsCols = Nil, note = note,
          transform = tspec, touchedAt = fused.map(cur -> _)) match {
          case Some(v) => v
          case None => inserts match {
            // no file touched: a pure-insert merge appends O(delta)
            case Some(ins) if !ins.isEmpty =>
              append(ins, tableDir, note = note, transform = tspec)
            case _ => cur
          }
        }
      } finally inserts.foreach(_.unpersist(blocking = false))
    } finally src.unpersist(blocking = false)
  }

  /** MERGE-ON-READ delete — the Iceberg-v2 equality-delete-file analog
    * (the delete half the reference's engines speak through
    * `iceberg.properties`' format-version-2 catalog): publish a new
    * snapshot whose manifest links every prior data file UNCHANGED and
    * adds one tombstone entry holding `keys`' rows. [[read]] applies the
    * tombstone as an anti-join on the key columns to data OLDER than the
    * delete; keys appended after it are unaffected (Iceberg's sequence-
    * number rule). Cost is O(keys) I/O per delete — at 100 TB with
    * streaming deletes this is the difference between a tombstone write
    * per micro-batch and [[delete]]'s copy-on-write rewrite of every
    * touched file. Tombstones accumulate one tiny anti-join per delete
    * until [[compact]] (which reads with deletes applied and publishes
    * a self-contained snapshot) collapses them into data — the
    * read-amplification / write-cost trade Iceberg's v2 spec makes.
    * A delete whose keys match nothing is still a (cheap) commit: the
    * tombstone is key-scale metadata and proving emptiness would cost a
    * scan. */
  def deleteRows(spark: SparkSession, tableDir: String,
      keys: DataFrame, note: Option[String] = None): Int =
    withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val cols = keys.columns.toSeq
    require(cols.nonEmpty, "deleteRows needs at least one key column")
    val tableCols = read(spark, tableDir, Some(cur)).columns.toSet
    val missing = cols.filterNot(tableCols.contains)
    require(missing.isEmpty,
      s"deleteRows key columns not in table at $tableDir: " +
        missing.mkString(", "))
    commitStaged(keys.limit(0), tableDir, partitionCol = None,
      note = note, statsCols = Nil, linkBase = Some(cur),
      ownDirInManifest = false, deleteDf = Some(keys.distinct()),
      writeData = false)
  }

  /** MERGE-ON-READ POSITIONAL delete — the Iceberg-v2 position-delete
    * file next to [[deleteRows]]' equality flavor, covering the delete
    * equality cannot express: `pred` may match SOME rows of a
    * non-unique key (duplicate rows, multi-valued columns), and the
    * tombstone records exact (file path, row ordinal) coordinates from
    * the provenance scan's hidden `_metadata` columns instead of
    * rewriting any data file — [[delete]]'s copy-on-write cost without
    * the write amplification. Reads drop a row when its coordinates
    * appear in a positional tombstone NEWER than the row's file
    * (sequence rule, like equality); [[compact]] collapses tombstones
    * back into data. Coordinates bind to file paths as the scan
    * reports them, so relocating the table directory orphans them —
    * compact before moving (the contract of Iceberg's absolute-URI
    * delete files). SQL semantics: rows where `pred` is NULL are kept.
    * Rows already hidden by older tombstones are never re-recorded,
    * and a no-match delete is a no-op returning the current version
    * (the provenance scan already paid for the answer). */
  def deleteWhere(spark: SparkSession, tableDir: String, pred: Column,
      note: Option[String] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    // persist around the two consumers (emptiness probe + tombstone
    // write) — without it the full provenance scan would run twice
    val rows = readSnapshot(spark, tableDir, Some(cur),
        withDeletes = true, withMeta = true)
      .filter(coalesce(pred, lit(false)))
      .select(col(MetaFileCol).as("file"), col(MetaPosCol).as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (rows.isEmpty) cur
      else commitStaged(rows.limit(0), tableDir, partitionCol = None,
        note = note, statsCols = Nil, linkBase = Some(cur),
        ownDirInManifest = false, posDeleteDf = Some(rows),
        writeData = false)
    } finally rows.unpersist(blocking = false)
  }

  /** ATOMIC CDC apply — one snapshot commit for a whole change batch:
    * `upserts` replace/insert by `key` (copy-on-write on the touched
    * files, like [[upsert]]) and `deleteKeys` delete by key
    * (merge-on-read tombstone riding the SAME commit, like
    * [[deleteRows]]). Readers see the entire batch or none of it —
    * the streaming-CDC contract a two-commit upsert-then-delete
    * sequence cannot give (a crash between them publishes half a
    * batch). The rewrite drops delete-keyed rows itself (the
    * tombstone's sequence rule exempts files of its own version);
    * untouched files keep them and the tombstone filters at read.
    * One key, one op per batch: a key in both inputs is rejected. */
  def applyChanges(spark: SparkSession, tableDir: String,
      upserts: DataFrame, deleteKeys: DataFrame, key: String,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None,
      note: Option[String] = None): Int =
    applyChangesKeys(spark, tableDir, upserts, deleteKeys, Seq(key),
      partitionCol, statsCols, transform, note)

  /** Multi-column-key [[applyChanges]]: row identity is the key
    * TUPLE ([[deleteRows]] has always been tuple-keyed — this closes
    * the upsert side). The manifest-range preflight prunes candidate
    * files on the FIRST key column's (min, max), so order the keys
    * most-selective-first when the table declares stats on it. */
  def applyChangesKeys(spark: SparkSession, tableDir: String,
      upserts: DataFrame, deleteKeys: DataFrame, keyCols: Seq[String],
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None,
      note: Option[String] = None): Int = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val delKeys = deleteKeys.select(keyCols.map(col): _*).distinct()
    // ONE aggregation over the signed key union serves every
    // preflight fact the old path paid three jobs for: upsert count,
    // null keys, duplicate tuples, the manifest-pruning range, the
    // delete-side row count, and the upsert∩delete overlap — each a
    // per-group invariant of (upsert rows, total rows) per key tuple
    val key = keyCols.head
    val allNonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val facts = upserts
      .select(keyCols.map(col) :+ lit(1L).as("__up"): _*)
      .unionByName(delKeys.withColumn("__up", lit(0L)))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__up")).as("__u"), count(lit(1)).as("__c"))
      .agg(
        coalesce(sum(col("__u")), lit(0L)),
        coalesce(sum(when(allNonNull, col("__u")).otherwise(0L)),
          lit(0L)),
        coalesce(sum(when(col("__u") > 1L, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("__u") > 0L && col("__c") > col("__u"),
          1L).otherwise(0L)), lit(0L)),
        min(when(col("__u") > 0L, col(key))),
        max(when(col("__u") > 0L, col(key))),
        coalesce(sum(when(col("__u") === 0L, 1L).otherwise(0L)),
          lit(0L)))
      .head()
    val n = facts.getLong(0)
    val nDelOnly = facts.getLong(6)
    require(n == facts.getLong(1),
      "applyChanges upserts contain a null value of key " +
        s"'${keyCols.mkString(", ")}' (null keys cannot merge: they " +
        "match no existing row and would append forever)")
    require(facts.getLong(2) == 0,
      "applyChanges upserts contain duplicate values of key " +
        s"'${keyCols.mkString(", ")}'")
    // the one-op-per-key contract holds on the BOOTSTRAP batch too
    require(facts.getLong(3) == 0,
      "applyChanges received both an upsert and a delete for a " +
        s"'${keyCols.mkString(", ")}'")
    val range =
      if (n == 0 || facts.isNullAt(4)) None
      else Some((key, facts.get(4), facts.get(5)))
    applyChangesKeysPre(spark, tableDir, upserts, delKeys, keyCols,
      n, nDelOnly, range, partitionCol, statsCols, transform, note)
  }

  /** [[applyChangesKeys]] AFTER preflight: for callers that already
    * hold the preflight facts (upsert count, delete-only count, the
    * manifest-pruning key range) as by-products of their own audit
    * action — the aggregate-MV patch ([[DerivedTable]]) derives all
    * three from the same audited frame whose invariants it proves,
    * so the public path's preflight aggregation job would recompute
    * known facts. CALLER CONTRACT (enforced upstream, by
    * construction there): `upserts` key tuples are distinct and
    * non-null, `delKeys` is distinct and disjoint from the upsert
    * keys, `n`/`nDelOnly` are their exact row counts, and
    * `pruneRange` brackets the upsert keys' first column. */
  private[sources] def applyChangesKeysPre(spark: SparkSession,
      tableDir: String, upserts: DataFrame, delKeys: DataFrame,
      keyCols: Seq[String], n: Long, nDelOnly: Long,
      pruneRange: Option[(String, Any, Any)],
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None,
      note: Option[String] = None): Int = {
    val range = pruneRange
    val cur0 = currentVersion(spark, tableDir)
    if (n == 0) {
      // bootstrap deletes reference rows that never existed (normal in
      // CDC streams) — vacuous, nothing to tombstone
      return if (cur0 == 0 || nDelOnly == 0) cur0
      else deleteRows(spark, tableDir, delKeys, note)
    }
    val keys = upserts.select(keyCols.map(col): _*).distinct()
    if (cur0 == 0)
      return commit(upserts, tableDir, partitionCol, note, statsCols,
        transform)
    val delOpt =
      if (nDelOnly == 0) None else Some(delKeys)
    mergeFiles(spark, tableDir,
      matches = _.join(keys, keyCols, "left_semi"),
      rewrite = d => {
        val noUp = d.join(keys, keyCols, "left_anti")
        // NULL-SAFE like the tombstone's read-side anti-join: the
        // rewrite exempts its own files from the riding tombstone
        // (sequence rule), so a null delete key must remove null rows
        // here too or deletion would depend on file placement
        noUp.join(delKeys,
          keyCols.map(k => noUp(k) <=> delKeys(k)).reduce(_ && _),
          "left_anti")
          .unionByName(upserts, allowMissingColumns = true)
      },
      partitionCol, statsCols, range, transform, note, delOpt)
      // no existing file touched: the batch appends + tombstones in
      // ONE linked commit (the table is non-empty — bootstrap returned
      // above)
      .getOrElse(commitStaged(upserts, tableDir, partitionCol, note,
        statsCols, linkBase = Some(currentVersion(spark, tableDir)),
        deleteDf = delOpt, transform = transform))
  }

  /** Number of data files in a snapshot, across every directory its
    * manifest links (maintenance introspection). */
  def dataFileCount(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): Int = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    val f = fs(spark, tableDir)
    manifestDirs(f, tableDir, v).map { dn =>
      // _stats sidecars and _deletes tombstones are parquet too —
      // they are metadata, not data
      FsFast.walkFiles(f, new Path(tableDir, dn)).count(e =>
        e.name.endsWith(".parquet") &&
          e.parentName != StatsDir &&
          e.parentName != DeletesDir &&
          e.parentName != PosDeletesDir)
    }.sum
  }

  /** Small-file maintenance — the `rewrite_data_files` analog of the
    * Iceberg tables the reference builds on: rewrite the current
    * snapshot into ~`targetFileBytes`-sized files and publish the result
    * as a NEW self-contained commit through the same marker protocol
    * (collapsing any append chain back to one directory). Readers never
    * see an in-progress rewrite, concurrent committers conflict cleanly
    * on the marker, and every pre-compaction version stays
    * time-travelable until [[vacuum]]. File count is sized from the
    * snapshot's on-disk bytes, so a drip-fed table of thousands of tiny
    * files comes back as a handful of scan-efficient ones.
    *
    * With `partitionCol` set the rewrite RANGE-partitions on
    * (partitionCol, row-hash) instead of round-robin: each output task
    * covers a contiguous run of partition values, so a hive partition
    * directory receives ~1 file (nFiles + values - 1 total worst case)
    * instead of nFiles files each — compaction preserves partition
    * locality, and the row-hash suffix still splits a skewed partition
    * value across tasks instead of wedging it into one. */
  def compact(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val bytes = manifestDirs(f, tableDir, cur)
      .map(dn => f.getContentSummary(new Path(tableDir, dn)).getLength)
      .sum
    val nFiles =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val data = read(spark, tableDir)
    // maintenance keeps the table's layout: with no explicit layout
    // the rewrite inherits the declared/current spec (like append and
    // SQL INSERT) — a bare compact() must never silently flatten a
    // partitioned table and erase its spec for future writes
    val tspec =
      if (transform.isDefined || partitionCol.isDefined) transform
      else currentTransform(spark, tableDir)
        .filter(t => data.columns.contains(t.source))
    val by = tspec.map(_.writeExpr(data))
      .orElse(partitionCol.map(col))
    // the declared write order rides maintenance (applied at the
    // commit write, on top of the sizing pass's partition locality)
    commit(sizeForWrite(data, nFiles, by),
      tableDir, partitionCol, statsCols = statsCols, transform = tspec,
      note = noteWithPins(spark, tableDir, cur, None))
  }

  /** Z-ORDER rewrite — Iceberg's `rewrite_data_files(strategy =>
    * 'sort', sort_order => 'zorder(a, b)')`: republish the current
    * snapshot clustered along the Morton curve of two numeric columns
    * ([[ZOrder.clustered]] — range-partitioned on the interleaved
    * value, sorted within files), with BOTH dimensions harvested into
    * the stats sidecar — so a 2-D box query ([[readWhereAll]]) prunes
    * at the manifest level (each file covers a tight (a, b)
    * rectangle) before parquet row-group stats even apply. A declared
    * hidden-partition spec is inherited like every other maintenance
    * rewrite (files split per partition directory first, z-clustered
    * within). File count sizes from on-disk bytes like [[compact]].
    * An EXPLICIT clustering strategy: it intentionally overrides a
    * declared [[WriteOrderProp]] for this rewrite (Iceberg's
    * rewrite-with-sort_order precedence) — later plain compactions
    * re-apply the declared order. One full-snapshot rewrite —
    * schedule it like any clustering maintenance, not per-commit. */
  def compactZOrder(spark: SparkSession, tableDir: String,
      colA: String, colB: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int =
    withCommitRetry() {
      val cur = currentVersion(spark, tableDir)
      require(cur > 0, s"no committed version at $tableDir")
      val data = read(spark, tableDir)
      Seq(colA, colB).foreach { c =>
        require(data.columns.contains(c),
          s"zorder column '$c' not in table at $tableDir " +
            s"(columns: ${data.columns.mkString(", ")})")
        require(data.schema(c).dataType.isInstanceOf[NumericType],
          s"zorder column '$c' must be numeric (cast temporals to " +
            "epoch first), got " + data.schema(c).dataType.catalogString)
      }
      val f = fs(spark, tableDir)
      val bytes = manifestDirs(f, tableDir, cur)
        .map(dn => f.getContentSummary(new Path(tableDir, dn)).getLength)
        .sum
      val nFiles = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val tspec = currentTransform(spark, tableDir)
        .filter(t => data.columns.contains(t.source))
      commit(ZOrder.clustered(data, colA, colB, nFiles), tableDir,
        note = noteWithPins(spark, tableDir, cur,
          Some(s"REWRITE ZORDER($colA, $colB)")),
        statsCols = Seq(colA, colB), transform = tspec,
        declaredOrder = false)
    }

  /** Shape `data` into ~`nFiles` output files. With a partition
    * expression it RANGE-partitions on (expr, row-hash) so each task
    * covers a contiguous run of partition values — a hive directory
    * receives ~1 file instead of nFiles each, and the deterministic
    * row-hash suffix still splits a skewed value across tasks. (Maps
    * and nondeterministic exprs can't range-partition; hash the
    * hashable columns — a map ANYWHERE in the type tree, inside a
    * struct or array, is unhashable too, so the check recurses.) */
  private def sizeForWrite(data: DataFrame, nFiles: Int,
      by: Option[Column]): DataFrame = by match {
    case Some(c) =>
      def mapFree(dt: DataType): Boolean = dt match {
        case _: MapType => false
        case st: StructType => st.fields.forall(fd => mapFree(fd.dataType))
        case at: ArrayType => mapFree(at.elementType)
        case _ => true
      }
      val hashable = data.schema.fields.collect {
        case fd if mapFree(fd.dataType) => col(fd.name)
      }.toSeq
      if (hashable.nonEmpty)
        data.repartitionByRange(nFiles, c, xxhash64(hashable: _*))
      else data.repartitionByRange(nFiles, c)
    case None => data.repartition(nFiles)
  }

  /** Bin-pack compaction — the incremental form of [[compact]] and the
    * behavior of Iceberg's `rewrite_data_files` binpack with a
    * min-size filter: only files smaller than `minFileBytes` are
    * rewritten (packed together into ~`targetFileBytes` outputs);
    * every already-right-sized file LINKS through the manifest
    * untouched. Maintenance cost is O(small files), not O(table) —
    * the difference between an hourly small-file sweep being cheap
    * and it rewriting 100 TB. A full [[compact]] still collapses the
    * manifest entirely (fragmented manifests, partition re-layout).
    * Returns the current version unchanged when fewer than two small
    * files exist (nothing to pack). */
  def compactSmall(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFileBytes: Long = 0L,
      statsCols: Seq[String] = Nil,
      partitionCol: Option[String] = None,
      note: Option[String] = None,
      partitionWhere: Option[String] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val threshold =
      if (minFileBytes > 0) minFileBytes else targetFileBytes / 2
    val f = fs(spark, tableDir)
    val entries = manifestDirs(f, tableDir, cur)
    val sized = entries.map { e =>
      e -> entryFiles(f, tableDir, e).map(rel =>
        rel -> f.getFileStatus(new Path(tableDir, rel)).getLen)
    }
    // PARTITION-SCOPED sweep: at warehouse scale maintenance targets
    // the partition that just closed (yesterday's day dir), never the
    // whole table — `partitionWhere` names a hive segment (the
    // `.partitions` rendering, `days_ts=2024-06-01`; the raw
    // transform-prefixed dir name also matches) and only files INSIDE
    // a matching directory are binpack candidates. Everything else —
    // other partitions, unpartitioned roots — links through
    // byte-untouched, so a daily sweep's cost tracks the day, not the
    // table.
    val inScope: String => Boolean = partitionWhere.map(_.trim) match {
      case None => _ => true
      case Some(sv) => rel => rel.split("/").dropRight(1).exists(d =>
        d == sv || d.stripPrefix(TransformPrefix) == sv)
    }
    // a scope that matches NO file at all (any size) is a misspelled
    // segment, not a clean sweep — returning cur as success would let
    // a daily job run for months against a typo while debris grows
    partitionWhere.foreach { sv =>
      require(sized.flatMap(_._2).exists(fl => inScope(fl._1)),
        s"where_partition '$sv' matches no partition directory of " +
          s"the current snapshot at $tableDir")
    }
    val small = sized.flatMap(_._2).filter(_._2 < threshold)
      .filter(fl => inScope(fl._1))
    if (small.size < 2) return cur
    val smallSet = small.map(_._1).toSet
    // tombstone lines link through: they still apply to the surviving
    // older files (packed output is newer than every tombstone, and its
    // rows were packed with them applied, so it is never re-filtered)
    val surviving = sized.flatMap { case (e, files) =>
      if (!files.exists(fl => smallSet.contains(fl._1))) Seq(e)
      else files.map(_._1).filterNot(smallSet.contains)
    } ++ manifestLines(f, tableDir, cur).filter(isDeleteLine)
    val bytes = small.map(_._2).sum
    val nFiles =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // keep the table's layout and pruning through the binpack: packed
    // files preserve hive partition locality (sizeForWrite) and get a
    // fresh stats sidecar — without this an hourly small-file sweep
    // steadily degraded the scan-pruning the table was built for.
    // Like compact(): with no explicit layout the pack inherits the
    // declared/current spec — packing a transform-partitioned table's
    // drip-fed files must not write them flat (and, when the packed
    // output replaces the only _tspec-carrying entries, must not
    // erase the spec for future writes).
    val base = readFiles(spark, tableDir, small.map(_._1),
      manifestDeletes(spark, f, tableDir, cur))
    val tspec =
      if (partitionCol.isDefined) None
      else currentTransform(spark, tableDir)
        .filter(t => base.columns.contains(t.source))
    val packed = sizeForWrite(base, nFiles,
      tspec.map(_.writeExpr(base)).orElse(partitionCol.map(col)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // tombstones may have deleted EVERY packed row: a partitionBy
      // write of an empty frame produces no files, and publishing a
      // file-less scan root would brick every subsequent read — same
      // guard mergeFiles carries
      val allGone = packed.isEmpty
      val survivingData = surviving.filterNot(isDeleteLine)
      commitStaged(packed, tableDir,
        if (allGone) None else partitionCol,
        note = noteWithPins(spark, tableDir, cur, note), statsCols,
        linkBase = Some(cur), linkEntries = Some(surviving),
        ownDirInManifest = !allGone || survivingData.isEmpty,
        transform = if (allGone) None else tspec)
    } finally packed.unpersist(blocking = false)
  }

  /** TOMBSTONE-TARGETED compaction — the middle gear between paying a
    * per-read anti-join forever and a FULL [[compact]] rewrite (the
    * `rewrite_position_delete_files` / delete-file-compaction analog):
    * rewrite ONLY the data files whose fraction of tombstoned rows
    * reaches `minDeleteRatio` (default: any tombstoned row), link every
    * other file unchanged, and DROP the tombstone entries the rewrite
    * fully absorbs. Reads before and after are row-identical; what
    * changes is where the delete lives — materialized into the
    * rewritten files instead of re-applied at every read.
    *
    * Cost: two scan aggregations over ONLY the manifest entries older
    * than the newest tombstone — the sequence rule proves newer files
    * carry no deletions, so an append-mostly table with a few old
    * tombstones scans the old sliver, not O(table) — (raw and
    * surviving row counts per file: the exact per-file tombstone hit,
    * where min/max ranges would over-approximate) plus a rewrite of
    * only the qualifying files. The per-file decision set collected to
    * the driver is one row per file WITH deletions — metadata-scale.
    *
    * A tombstone survives the sweep only while some KEPT file (below
    * the ratio) still carries deletions from an entry older than it;
    * rewritten files re-enter the manifest at the NEW version, so
    * retained tombstones never re-apply to them (sequence rule) and
    * correctness never depends on the absorption analysis — it only
    * decides how many anti-joins later reads still pay. */
  def compactDeletes(spark: SparkSession, tableDir: String,
      minDeleteRatio: Double = 0.0,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      transform: Option[Transform] = None,
      note: Option[String] = None): Int = withCommitRetry() {
    require(minDeleteRatio >= 0.0 && minDeleteRatio <= 1.0,
      s"minDeleteRatio must be in [0, 1], got $minDeleteRatio")
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val tombs = manifestDeletes(spark, f, tableDir, cur)
    if (tombs.isEmpty) return cur // nothing to target
    val root = qualifiedRoot(f, tableDir)
    // SCOPE the deletion-count scans by the sequence rule: a tombstone
    // applies only to entries OLDER than it, so files from entries at
    // or above the newest tombstone's version provably carry zero
    // deletions — on a table whose tombstones predate most of its data
    // (the steady state of append-mostly ingest with occasional
    // deletes) this maintenance op scans the old sliver, not O(table).
    val maxTomb = tombs.map(_.ver).max
    val candidates = manifestDirs(f, tableDir, cur)
      .filter(e => entryVer(e) < maxTomb)
      .flatMap(e => entryFiles(f, tableDir, e))
    val chain = renameChain(f, tableDir, cur)
    def candScan(withDeletes: Boolean): DataFrame =
      candidates.groupBy(_.split("/").head).toSeq.sortBy(_._1)
        .map { case (vdir, fls) =>
          val ver = vdir.stripPrefix("v=").toInt
          val base = scanUnit(spark, ScanUnit(
            fls.map(r => new Path(tableDir, r).toString),
            Some(new Path(tableDir, vdir).toString),
            ownerEpoch(f, tableDir, vdir)))
            .withColumn(MetaFileCol, col("_metadata.file_path"))
            .withColumn(MetaPosCol, col("_metadata.row_index"))
          if (!withDeletes) base
          else applyDeletes(applySchemaSteps(base, chain, ver),
            tombs.filter(_.ver > ver))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
    def perFile(withDeletes: Boolean, as: String) =
      candScan(withDeletes)
        .groupBy(col(MetaFileCol).as("file"))
        .agg(count(lit(1)).as(as))
    // exact per-file deletion counts: raw minus surviving (the same
    // anti-joins reads pay, so the subtraction is the read's truth)
    val delStats =
      if (candidates.isEmpty) Array.empty[(String, Long, Long)]
      else perFile(withDeletes = false, "n")
        .join(perFile(withDeletes = true, "surv"), Seq("file"), "left")
        .select(col("file"), col("n"),
          coalesce(col("surv"), lit(0L)).as("surv"))
        .filter(col("surv") < col("n"))
        .collect()
        .map(r => (decodePath(r.getString(0)).stripPrefix(root + "/"),
          r.getLong(1), r.getLong(2)))
    val touched = delStats.collect {
      case (rel, n, surv) if (n - surv).toDouble >= n * minDeleteRatio =>
        rel
    }.toSet
    // tombstone absorption: T applies only to entries OLDER than its
    // version, so T is droppable when every kept deletion-carrying
    // file is at least as new as T
    val keptDelVers = delStats.collect {
      case (rel, _, _) if !touched.contains(rel) => entryVer(rel)
    }
    def absorbed(tver: Int) = keptDelVers.forall(_ >= tver)
    val surviving = manifestLines(f, tableDir, cur).flatMap { e =>
      if (isDeleteLine(e)) {
        if (absorbed(entryVer(e.stripPrefix(DeletePrefix)))) Nil
        else Seq(e)
      } else {
        val files = entryFiles(f, tableDir, e)
        if (!files.exists(touched.contains)) Seq(e)
        else files.filterNot(touched.contains)
      }
    }
    if (touched.isEmpty) {
      // every tombstone matches nothing (or none met the ratio while
      // absorbing nothing): publish only when delete lines actually
      // drop, else the commit would be an empty churn version
      if (surviving.size == manifestLines(f, tableDir, cur).size)
        return cur
      return commitStaged(
        read(spark, tableDir, Some(cur)).limit(0), tableDir,
        partitionCol = None, note = noteWithPins(spark, tableDir, cur, note), statsCols = Nil,
        linkBase = Some(cur), linkEntries = Some(surviving),
        ownDirInManifest = false, writeData = false)
    }
    val rewritten = readFiles(spark, tableDir, touched.toSeq, tombs)
      .coalesce(math.max(1, touched.size))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val allGone = rewritten.isEmpty
      val survivingData = surviving.filterNot(isDeleteLine)
      // like compact(): a bare maintenance rewrite keeps the table's
      // layout rather than silently flattening the touched files
      val tspec =
        if (transform.isDefined || partitionCol.isDefined) transform
        else currentTransform(spark, tableDir)
          .filter(t => rewritten.columns.contains(t.source))
      commitStaged(rewritten, tableDir,
        if (allGone) None else partitionCol, note = noteWithPins(spark, tableDir, cur, note), statsCols,
        linkBase = Some(cur), linkEntries = Some(surviving),
        ownDirInManifest = !allGone || survivingData.isEmpty,
        transform = if (allGone) None else tspec)
    } finally rewritten.unpersist(blocking = false)
  }

  /** Expire old snapshots, keeping the most recent `keep` (the current
    * version is always retained). The marker is removed first so a crash
    * mid-vacuum never leaves a published-but-deleted version. Directory
    * deletion is REFERENCE-COUNTED across the retained versions'
    * manifests: an expired version's directory survives as long as any
    * retained snapshot still links its files (the Iceberg
    * expire-snapshots rule — expiring history never corrupts the
    * current table).
    *
    * Also reclaims commit debris: unpublished, unreferenced `v=K`
    * directories (a committer crashed between its rename and its marker
    * — they block version slot K) and orphaned `.stage-*` /
    * `.reclaim-*` directories. Maintenance only — do not run
    * concurrently with active committers, whose in-flight claims look
    * identical to debris. */
  /** The versions a `vacuum(keep)` would expire — the DRY-RUN view
    * an operator checks before pulling the trigger (Iceberg's
    * expire_snapshots dry-run). Shares the exact pin logic with
    * [[vacuum]]: the current version, the newest keep-1, tags, and
    * branch heads never appear here. */
  def vacuumCandidates(spark: SparkSession, tableDir: String,
      keep: Int = 1): Seq[Int] = {
    val f = fs(spark, tableDir)
    if (!f.exists(new Path(tableDir))) return Nil
    val cur = currentVersion(spark, tableDir)
    val all = versions(spark, tableDir)
    // tagged versions are pinned: a named snapshot never expires; so
    // are branch HEADS (their linked history survives through the
    // reference count below, like any retained manifest's)
    val tagged = tags(spark, tableDir).values.toSet ++
      branches(spark, tableDir).values
    all.filter(_ != cur).dropRight(math.max(0, keep - 1))
      .filterNot(tagged.contains)
  }

  def vacuum(spark: SparkSession, tableDir: String, keep: Int = 1): Unit = {
    val f = fs(spark, tableDir)
    if (!f.exists(new Path(tableDir))) return // never-committed table: no-op
    expireVersions(spark, tableDir, f, currentVersion(spark, tableDir),
      versions(spark, tableDir), vacuumCandidates(spark, tableDir, keep))
  }

  /** AGE-based snapshot expiry — the Iceberg
    * `expire_snapshots(older_than => ts, retain_last => N)` analog
    * next to [[vacuum]]'s count-based retention: expires every
    * snapshot whose publish marker predates `olderThanMillis`, which
    * is the retention contract a table committing every few seconds
    * actually needs ("keep 7 days" is inexpressible as a version
    * count). The same pins apply: the current version, the newest
    * `keepMin` versions, tags, branch heads, and live rename sidecars
    * never expire, and every directory a retained manifest links
    * survives the sweep. Expired-gap bookkeeping is shared with
    * [[vacuum]], so [[readAsOf]] keeps refusing expired instants
    * exactly. */
  def vacuumOlderThan(spark: SparkSession, tableDir: String,
      olderThanMillis: Long, keepMin: Int = 1): Unit = {
    val f = fs(spark, tableDir)
    if (!f.exists(new Path(tableDir))) return
    val cur = currentVersion(spark, tableDir)
    val all = versions(spark, tableDir)
    val tagged = tags(spark, tableDir).values.toSet ++
      branches(spark, tableDir).values
    val protectedNewest = all.takeRight(math.max(1, keepMin)).toSet
    def mtime(v: Int): Option[Long] = Try(f.getFileStatus(
      new Path(tableDir, s"$MarkerPrefix$v")).getModificationTime)
      .toOption
    val expired0 = all.filter(v => v != cur && !protectedNewest(v) &&
      !tagged(v) && mtime(v).exists(_ < olderThanMillis))
    expireVersions(spark, tableDir, f, cur, all, expired0)
  }

  /** The shared expiry sweep behind [[vacuum]] and [[vacuumOlderThan]]:
    * `expired0` is the caller's candidate set (current/tagged versions
    * already excluded); this keeps live rename sidecars, logs publish
    * instants for exact [[readAsOf]] gap resolution, drops markers,
    * reclaims unreferenced directories, and sweeps crashed-committer
    * debris. */
  private def expireVersions(spark: SparkSession, tableDir: String,
      f: FileSystem, cur: Int, all: Seq[Int],
      expired0: Seq[Int]): Unit = {
    // SCHEMA-STEP versions (rename/add/drop sidecars) stay pinned
    // while any surviving manifest line is OLDER than them: expiring
    // the sidecar would silently re-read old files under their old
    // shape — a nulled or resurrected column, wrong results. Inert
    // once every linked line is newer (a full compact gets there); the
    // minimum is taken over the conservative superset of retained +
    // step manifests.
    val renameVers = all.filter(rv =>
      Seq(RenameFile, AddColFile, DropColFile, RetypeFile).exists(sc =>
        f.exists(new Path(tableDir, s"v=$rv/$sc")))).toSet
    val expired =
      if (renameVers.isEmpty) expired0
      else {
        val minEntry = (all.diff(expired0) ++ renameVers).distinct
          .flatMap(v => manifestLines(f, tableDir, v))
          .map(l => entryVer(l.stripPrefix(DeletePrefix)))
          .minOption.getOrElse(cur)
        expired0.filterNot(rv => renameVers(rv) && rv > minEntry)
      }
    val retained = all.diff(expired)
    // tombstone lines reference their `v=K/_deletes` dir: an expired
    // version whose delete files a retained snapshot still applies
    // must keep them
    val referenced =
      retained.flatMap(v => manifestLines(f, tableDir, v))
        .map(_.stripPrefix(DeletePrefix)).toSet
    // an entry may be a directory or a FILE inside one (file-level
    // merge manifests): a directory stays as long as anything under it
    // is referenced — conservative, and compact() reclaims the rest
    def dirReferenced(name: String): Boolean =
      referenced.contains(name) ||
        referenced.exists(_.startsWith(name + "/"))
    // log each expiring version's publish instant BEFORE its marker
    // goes — [[readAsOf]] uses the log to resolve times inside the
    // expired gap exactly. A crash after the log write leaves entries
    // for still-published versions, which expiredLog ignores.
    if (expired.nonEmpty) {
      // branch recorded while the version dir still exists: readAsOf
      // uses it to tell expired main history (refuse) from an expired
      // foreign branch's commits (never main's state)
      val instants = expired.flatMap { v =>
        Try(f.getFileStatus(new Path(tableDir, s"$MarkerPrefix$v"))
          .getModificationTime).toOption
          .map(m => v -> (m, refInfo(f, tableDir, v)._1))
      }.toMap
      val merged = expiredLog(f, tableDir, retained = Set.empty) ++
        instants
      // temp-then-rename: a reader never observes a truncated log
      // mid-rewrite (a torn read silently degraded readAsOf's exact
      // gap resolution to the conservative whole-gap refusal). Two
      // concurrent vacuums still last-write-win on the merge — each
      // writes a superset of what IT expired, and a missing entry only
      // widens a refusal, never resolves to a wrong snapshot.
      val tmp = new Path(tableDir,
        s".$ExpiredLogFile.tmp-${java.util.UUID.randomUUID()}")
      FsFast.put(f, tmp, merged.toSeq.sortBy(_._1)
        .map { case (v, (m, br)) => s"$v\t$m\t$br" }.mkString("\n")
        .getBytes("UTF-8"), overwrite = true)
      val dest = new Path(tableDir, ExpiredLogFile)
      if (f.exists(dest)) f.delete(dest, false)
      if (!f.rename(tmp, dest)) f.delete(tmp, false)
    }
    expired.foreach { v =>
      f.delete(new Path(tableDir, s"$MarkerPrefix$v"), false)
      if (!dirReferenced(s"v=$v"))
        f.delete(new Path(tableDir, s"v=$v"), true)
    }
    // drop memoized read plans for this table: a memo for an expired
    // version would otherwise be served (its owner epoch is untouched
    // by expiry) and fail mid-job with FileNotFound instead of at
    // plan assembly with the protocol's missing-version error
    planMemo.keySet.removeIf(_._2 == tableDir)
    val published = committedVersions(spark, tableDir).toSet
    f.listStatus(new Path(tableDir)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".stage-") || name.startsWith(".reclaim-") ||
          name.startsWith(s".$ExpiredLogFile.tmp-"))
        f.delete(st.getPath, true) // incl. reclaimers that crashed mid-sweep
      else if (name.startsWith("v=")) {
        // safe parse: a foreign/corrupt `v=x` entry is skipped, never a
        // NumberFormatException that aborts the sweep mid-way
        Try(name.stripPrefix("v=").toInt).toOption.foreach { k =>
          if (!published.contains(k) && !dirReferenced(name))
            f.delete(st.getPath, true)
        }
      }
    }
  }

  // —— named tags (Iceberg ref analog) ——

  private val TagPrefix = "_tag_"

  private def checkTagName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_-]+"),
      s"tag name must be [A-Za-z0-9_-]+, got '$name'")

  /** TAG a snapshot under a stable name — the Iceberg tag/ref analog:
    * `tag("golden_v1")` pins the version for audits, reproducible
    * training runs, or rollback targets, and [[vacuum]] RETAINS tagged
    * versions (with every directory their manifests link) no matter
    * how small `keep` is — expiring history never takes a named
    * snapshot with it. Re-tagging a name moves it. Metadata-only. */
  def tag(spark: SparkSession, tableDir: String, name: String,
      version: Option[Int] = None): Int = {
    checkTagName(name)
    val v = version.getOrElse(currentVersion(spark, tableDir))
    val vs = committedVersions(spark, tableDir)
    require(vs.contains(v),
      s"cannot tag v=$v at $tableDir (retained: $vs)")
    val f = fs(spark, tableDir)
    // the pin file embeds a per-name MONOTONE sequence (max existing
    // + 1, read from the files themselves so it is monotone across
    // JVMs too): [[tags]] resolves ties on it, so a re-tag to a LOWER
    // version in the same millisecond as the original pin still wins —
    // an mtime-only tie-break resolved to the higher version number.
    moveRef(f, tableDir, TagPrefix, name, v)
    v
  }

  /** Raw tag pin files as (name, version, seq, gen, mtime, path).
    * Legacy pins (`_tag_name=v`, no sequence) parse with seq 0, so any
    * sequenced re-tag outranks them. */
  private def tagEntries(f: FileSystem,
      tableDir: String): Seq[(String, Int, Long, Long, Long, Path)] = {
    val dir = new Path(tableDir)
    if (!f.exists(dir)) Nil
    else refEntriesFrom(f.listStatus(dir).toSeq, TagPrefix)
  }

  /** Parse ref pin files (`<prefix><name>=<v>.<seq>[.<gen>]`) out of a
    * root listing — shared by tags and branches, which differ only in
    * prefix and in whether the pinned version may move forward. `gen`
    * is the branch GENERATION (0 for tags, main, and legacy pins):
    * assigned at [[createBranch]] and preserved by every ref advance,
    * it fences a dropped-then-recreated name off the dropped lineage's
    * `_ref` sidecars (see [[branchHeadIn]]). */
  private def refEntriesFrom(st: Seq[org.apache.hadoop.fs.FileStatus],
      prefix: String): Seq[(String, Int, Long, Long, Long, Path)] =
    st.filter(_.getPath.getName.startsWith(prefix))
      .flatMap { s =>
        s.getPath.getName.stripPrefix(prefix).split("=", 2) match {
          case Array(n, value) =>
            val (vStr, seq, gen) = value.split("\\.") match {
              case Array(v0) => (v0, 0L, 0L)
              case Array(v0, s0) =>
                (v0, Try(s0.toLong).getOrElse(-1L), 0L)
              case Array(v0, s0, g0) =>
                (v0, Try(s0.toLong).getOrElse(-1L),
                  Try(g0.toLong).getOrElse(-1L))
              case _ => (value, -1L, -1L)
            }
            // safe parse: a foreign/corrupt pin name is skipped
            for (v <- Try(vStr.toInt).toOption if seq >= 0 && gen >= 0)
              yield (n, v, seq, gen, s.getModificationTime, s.getPath)
          case _ => None
        }
      }

  /** Move ref `name` (under `prefix`) to `v` with the tag protocol:
    * new pin first (monotone per-name sequence, so ties resolve to the
    * newest move), then sweep superseded pins — a crash between the
    * two leaves a harmless duplicate, never an unpinned window.
    *
    * The sequence is `(base+1) << 20 | nanoTime-low-bits`: the high
    * bits stay monotone across JVMs (each mover reads the max from the
    * files themselves), and the low bits break the two-LIVE-movers
    * tie — two concurrent moves of one name both read base K, but now
    * write DISTINCT sequences, so every reader picks the same winner
    * instead of falling back to the ms-granularity mtime tie (which
    * two same-millisecond movers could genuinely draw). */
  private def moveRef(f: FileSystem, tableDir: String, prefix: String,
      name: String, v: Int, gen: Long = 0L): Unit = {
    val existing = refEntriesFrom(
      f.listStatus(new Path(tableDir)).toSeq, prefix).filter(_._1 == name)
    if (existing.nonEmpty) {
      val w = resolveRef(existing)
      if (w._2 == v && w._4 == gen) return
    }
    val base = (0L +: existing.map(_._3 >> 20)).max + 1
    val seq = (base << 20) | (System.nanoTime() & 0xFFFFFL)
    val suffix = if (gen == 0L) s"$v.$seq" else s"$v.$seq.$gen"
    FsFast.touch(f, new Path(tableDir, s"$prefix$name=$suffix"),
      overwrite = true)
    existing.foreach(e => f.delete(e._6, false))
  }

  /** Winner among one name's pins: highest sequence, then (for
    * legacy seq-0 duplicates) newest mtime, then version. */
  private def resolveRef(
      entries: Seq[(String, Int, Long, Long, Long, Path)])
      : (String, Int, Long, Long, Long, Path) =
    entries.maxBy(e => (e._3, e._5, e._2))

  private def resolveTag(
      entries: Seq[(String, Int, Long, Long, Long, Path)])
      : (String, Int) = {
    val w = resolveRef(entries)
    (w._1, w._2)
  }

  /** All tags as name -> version. A crashed re-tag may leave two files
    * for one name; the highest sequence (newest mtime among legacy
    * pins) wins. */
  def tags(spark: SparkSession, tableDir: String): Map[String, Int] =
    tagEntries(fs(spark, tableDir), tableDir)
      .groupBy(_._1).values.map(resolveTag).toMap

  /** Read the snapshot a tag points at. */
  def readTag(spark: SparkSession, tableDir: String,
      name: String): DataFrame = {
    checkTagName(name)
    val t = tags(spark, tableDir).getOrElse(name,
      throw new IllegalArgumentException(
        s"no tag '$name' at $tableDir (tags: " +
          s"${tags(spark, tableDir).keys.toSeq.sorted.mkString(", ")})"))
    read(spark, tableDir, Some(t))
  }

  /** Remove a tag (the version becomes expirable again). Sweeps every
    * file carrying the name, including a crashed re-tag's duplicate. */
  def dropTag(spark: SparkSession, tableDir: String,
      name: String): Unit = {
    checkTagName(name)
    val f = fs(spark, tableDir)
    f.listStatus(new Path(tableDir)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$TagPrefix$name="))
      .foreach(p => f.delete(p, false))
  }

  // —— writable branches (Iceberg branch / write-audit-publish) ——

  private val BranchPrefix = "_branch_"
  val MainBranch = "main"
  private val RefFile = "_ref"

  /** Published `_ref` sidecars are immutable, so their content memoizes
    * per (table, version, file stamp) — the stamp (mtime + length, one
    * stat instead of open/read) keys out the drop-and-recreate-at-the-
    * same-path hazard the way schemaMemo's epoch does. Head resolution
    * walks one refInfo per marker above a branch's ref floor; the memo
    * turns a busy sibling branch's backlog into stat probes. */
  private val refMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int, Long)]()

  /** (branch, parent version, branch generation) of snapshot `v`, from
    * the `v=K/_ref` sidecar every commit stages (atomic with the
    * claim). A version WITHOUT one — all pre-branch history — is
    * main's with parent v-1, which is exactly what linear history was.
    * Legacy two-field sidecars parse with generation 0 (matching
    * legacy pins, which carry none). */
  private def refInfo(f: FileSystem, tableDir: String,
      v: Int): (String, Int, Long) = {
    val p = new Path(tableDir, s"v=$v/$RefFile")
    val stamp = Try(f.getFileStatus(p)).toOption
    stamp match {
      case None => (MainBranch, v - 1, 0L) // legacy/pre-branch version
      case Some(st) =>
        val key = s"$tableDir|$v|" +
          s"${st.getModificationTime}_${st.getLen}"
        val cached = refMemo.get(key)
        if (cached != null) cached
        else {
          val info = Try {
            val in = f.open(p)
            val s = try new String(in.readAllBytes(), "UTF-8")
              finally in.close()
            val a = s.trim.split("\t")
            (a(0), a(1).toInt, if (a.length > 2) a(2).toLong else 0L)
          }.getOrElse((MainBranch, v - 1, 0L))
          if (refMemo.size > 10000) refMemo.clear()
          refMemo.put(key, info)
          info
        }
    }
  }

  /** The commit TIMESTAMP of snapshot `v` (epoch millis, monotone per
    * table — see the ref-stamp note in [[commitStaged]]) — None for
    * pre-stamp versions and legacy sidecars. */
  def commitTimestamp(spark: SparkSession, tableDir: String,
      v: Int): Option[Long] =
    commitTimestampIn(fs(spark, tableDir), tableDir, v)

  private def commitTimestampIn(f: FileSystem, tableDir: String,
      v: Int): Option[Long] = Try {
    val p = new Path(tableDir, s"v=$v/$RefFile")
    val in = f.open(p)
    val s = try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    val a = s.trim.split("\t")
    if (a.length > 3) Some(a(3).toLong) else None
  }.toOption.flatten

  private def hasBranchRefs(f: FileSystem, tableDir: String): Boolean = {
    val dir = new Path(tableDir)
    f.exists(dir) &&
      f.listStatus(dir).exists(_.getPath.getName.startsWith(BranchPrefix))
  }

  /** Head of `name` given a root listing: the ref pin is a FLOOR (it
    * advances AFTER the marker publishes, so it may lag a crash or a
    * racing committer by one commit); the truth is the newest marker
    * whose `_ref` names this branch at or above the floor. The scan is
    * O(commits since the ref last advanced) — normally 0–1 versions —
    * and every commit re-bumps the ref, so lag never accumulates. */
  private def branchHeadIn(f: FileSystem, tableDir: String,
      st: Seq[org.apache.hadoop.fs.FileStatus], markers: Seq[Int],
      name: String): Int = {
    val pins = refEntriesFrom(st, BranchPrefix).filter(_._1 == name)
    // the PIN is branch existence; the marker scan above it only heals
    // ref LAG (a committer that crashed between marker and ref bump).
    // Without this gate a dropped branch would resurrect through the
    // `_ref` sidecars its expirable commits still carry. Main is the
    // exception: it exists implicitly, pin or not.
    if (pins.isEmpty && name != MainBranch)
      throw new IllegalArgumentException(
        s"no branch '$name' at $tableDir (branches: " +
          s"${branchNamesFrom(st).mkString(", ")})")
    val winner = if (pins.isEmpty) None else Some(resolveRef(pins))
    val floor = winner.map(_._2)
    // GENERATION fence: the healing scan only trusts `_ref` sidecars
    // of the pin's own generation. Without it, dropBranch-then-
    // createBranch with the same name (the abandon-and-retry half of
    // write-audit-publish) would resolve the recreated branch's head
    // through the ABANDONED lineage's sidecars sitting above the new
    // pin floor — silently reviving the dropped commits.
    val gen = winner.map(_._4).getOrElse(0L)
    val above = markers.filter(v => floor.forall(_ < v)).reverse
    val hit = above.find { v =>
      val r = refInfo(f, tableDir, v)
      r._1 == name && r._3 == gen
    }
    hit.orElse(floor).getOrElse(0)
  }

  private def branchNamesFrom(
      st: Seq[org.apache.hadoop.fs.FileStatus]): Seq[String] =
    refEntriesFrom(st, BranchPrefix).map(_._1).distinct.sorted

  /** Current head of branch `name`. */
  def branchHead(spark: SparkSession, tableDir: String,
      name: String): Int = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir)
    require(f.exists(dir), s"no committed version at $tableDir")
    val st = f.listStatus(dir).toSeq
    branchHeadIn(f, tableDir, st, markerVersions(st), name)
  }

  /** All branches as name -> head version (empty for a linear table
    * that never called [[createBranch]]). */
  def branches(spark: SparkSession, tableDir: String): Map[String, Int] = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir)
    if (!f.exists(dir)) return Map.empty
    val st = f.listStatus(dir).toSeq
    val markers = markerVersions(st)
    branchNamesFrom(st)
      .map(n => n -> branchHeadIn(f, tableDir, st, markers, n)).toMap
  }

  /** Create a WRITABLE branch at `at` (default: the main head) — the
    * Iceberg branch analog that makes write-audit-publish expressible:
    * commit to `staging` ([[commit]]/[[append]]'s `branch` parameter),
    * validate the staged snapshot ([[readBranch]]), then
    * [[fastForward]] main — metadata-only, nothing rewritten.
    *
    * The FIRST branch materializes a `main` ref pinned at the current
    * head before the new branch's ref exists, so there is never a
    * window where branch commits could be mistaken for main's: from
    * that moment main resolves through its ref, and commits landing on
    * other branches are invisible to unqualified readers. Branch heads
    * are vacuum-pinned like tags. */
  def createBranch(spark: SparkSession, tableDir: String, name: String,
      at: Option[Int] = None): Int = {
    checkTagName(name)
    val f = fs(spark, tableDir)
    val vs = committedVersions(spark, tableDir)
    require(vs.nonEmpty, s"no committed version at $tableDir")
    if (!hasBranchRefs(f, tableDir))
      moveRef(f, tableDir, BranchPrefix, MainBranch,
        vs.lastOption.getOrElse(0))
    val v = at.getOrElse(currentVersion(spark, tableDir))
    require(vs.contains(v),
      s"cannot branch at v=$v of $tableDir (retained: $vs)")
    if (name != MainBranch) {
      require(!branches(spark, tableDir).contains(name),
        s"branch '$name' already exists at $tableDir; drop it first " +
          "or commit to it")
      // fresh GENERATION per incarnation of the name: commits fence
      // their `_ref` sidecars to it, so recreating a dropped name can
      // never resolve through the abandoned lineage (main stays gen 0
      // — it is never droppable, so it needs no fence)
      moveRef(f, tableDir, BranchPrefix, name, v,
        gen = Math.max(1L, System.nanoTime()))
    }
    v
  }

  /** Read the snapshot at a branch head. */
  def readBranch(spark: SparkSession, tableDir: String,
      name: String): DataFrame =
    read(spark, tableDir, Some(branchHead(spark, tableDir, name)))

  /** PUBLISH a branch: move `to` (default main) forward to `from`'s
    * head — the metadata-only fast-forward that completes
    * write-audit-publish. Refused unless `to`'s head is an ANCESTOR of
    * `from`'s head (walking the per-version `_ref` parent chain): a
    * fast-forward that would drop commits is a rollback in disguise
    * and must be asked for explicitly ([[rollback]]).
    *
    * Publishes as a metadata-only COMMIT on `to` (returning the new
    * version) rather than a bare ref move: the commit enters the
    * global version-slot race with `linkBase = to`'s head as its CAS,
    * so a commit landing on `to` concurrently either loses the slot
    * and rebases onto the published result, or makes THIS call lose,
    * re-resolve, and re-check ancestry (now failing loudly — the head
    * moved and the audit must be redone). A bare ref move raced those
    * commits unserialized and could silently drop their rows. */
  def fastForward(spark: SparkSession, tableDir: String,
      from: String, to: String = MainBranch): Int = withCommitRetry() {
    val f = fs(spark, tableDir)
    val fromV = branchHead(spark, tableDir, from)
    val toV = branchHead(spark, tableDir, to)
    if (fromV == toV) return toV
    var v = fromV
    var found = false
    while (!found && v > 0) {
      val p = refInfo(f, tableDir, v)._2
      if (p == toV) found = true
      v = p
    }
    require(found,
      s"'$to' (v=$toV) is not an ancestor of '$from' (v=$fromV) at " +
        s"$tableDir: fast-forward would drop commits; rollback or " +
        "re-branch instead")
    commitStaged(read(spark, tableDir, Some(fromV)).limit(0), tableDir,
      partitionCol = None,
      note = Some(s"fastForward $to <- $from (v=$fromV)"),
      statsCols = Nil,
      linkBase = Some(toV), // the CAS: head moved => lose, re-resolve
      linkEntries = Some(manifestLines(f, tableDir, fromV)),
      ownDirInManifest = false, writeData = false,
      branch = if (to == MainBranch) None else Some(to))
  }

  /** Remove a branch ref; its unpublished commits become expirable by
    * [[vacuum]] (the abandon-the-audit half of write-audit-publish).
    * Main is not droppable — it is what unqualified readers resolve. */
  def dropBranch(spark: SparkSession, tableDir: String,
      name: String): Unit = {
    checkTagName(name)
    require(name != MainBranch,
      s"cannot drop '$MainBranch': unqualified reads resolve through it")
    val f = fs(spark, tableDir)
    f.listStatus(new Path(tableDir)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$BranchPrefix$name="))
      .foreach(p => f.delete(p, false))
  }

  /** SQL surface for TIME TRAVEL — the `VERSION AS OF` analog of the
    * snapshot queries the reference's engines expose over Iceberg
    * metadata: registers `name` as the CURRENT snapshot and
    * `name_v<N>` for every retained version, so history is queryable
    * through `spark.sql` (joins across versions, diffs, audits)
    * without touching the programmatic API. Views are lazy plans over
    * immutable snapshot file sets — registration costs metadata only,
    * and a view keeps reading its version's exact content (including
    * merge-on-read tombstones) until [[vacuum]] expires it.
    * Re-register after new commits to pick up new versions. Returns
    * the registered version numbers. */
  def registerVersions(spark: SparkSession, tableDir: String,
      name: String): Seq[Int] = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"view name must be a plain SQL identifier, got '$name'")
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed version at $tableDir")
    vs.foreach(v => read(spark, tableDir, Some(v))
      .createOrReplaceTempView(s"${name}_v$v"))
    read(spark, tableDir).createOrReplaceTempView(name)
    vs
  }

  /** Driver-visible gate for the SQL time-travel surface (q41): build
    * a 3-version table (commit, O(delta) append, then one ATOMIC
    * [[applyChanges]] CDC batch — an upsert and a merge-on-read delete
    * in a single commit), then run ONE multi-version `spark.sql` query
    * THROUGH the [[GraftCatalog]] — native `VERSION AS OF` pins, a
    * cross-version join, a cross-version NOT IN, and the CDC batch's
    * effects, with NO prior registration of any view — whose observed
    * row is re-emitted as constants for the DuckDB oracle.
    * ([[registerVersions]] remains as the catalog-free fallback
    * surface; the gate exercises the native path.) */
  def sqlTimeTravelGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-sql-tt")
    try {
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val t = work.resolve("tbl").toString
      commit(region.filter(col("r_regionkey") < 3), t)
      append(region.filter(col("r_regionkey") >= 3), t)
      import s.implicits._
      applyChanges(s, t,
        upserts = region.filter(col("r_regionkey") === 0)
          .withColumn("r_name", lit("CDC_UPDATED")),
        deleteKeys = Seq(1).toDF("r_regionkey"), key = "r_regionkey")
      val g = s"graft.`$t`"
      val r = s.sql(
        s"""SELECT
             (SELECT count(*) FROM $g VERSION AS OF 1) AS v1_rows,
             (SELECT count(*) FROM $g VERSION AS OF 2) AS v2_rows,
             (SELECT count(*) FROM $g VERSION AS OF 3) AS v3_rows,
             (SELECT count(*) FROM $g) AS cur_rows,
             (SELECT count(*) FROM $g VERSION AS OF 2 a
                JOIN $g VERSION AS OF 1 b USING (r_regionkey))
               AS joined_rows,
             (SELECT sum(r_regionkey) FROM $g VERSION AS OF 2
              WHERE r_regionkey NOT IN
                (SELECT r_regionkey FROM $g VERSION AS OF 1))
               AS appended_keysum,
             (SELECT count(*) FROM $g VERSION AS OF 3
              WHERE r_name = 'CDC_UPDATED') AS cdc_updated,
             (SELECT count(*) FROM $g VERSION AS OF 2
              WHERE r_name = 'CDC_UPDATED') AS cdc_before""").head()
      // —— write-audit-publish leg: commits staged on a branch stay
      //    invisible to main (programmatic AND catalog-SQL reads)
      //    until a metadata-only fast-forward publishes them ——
      createBranch(s, t, "staging")
      append(region.limit(2)
        .select((col("r_regionkey") + lit(90)).as("r_regionkey"),
          lit("WAP_STAGED").as("r_name")),
        t, branch = Some("staging"))
      val w = s.sql(
        s"""SELECT
             (SELECT count(*) FROM $g) AS main_before,
             (SELECT count(*) FROM $g VERSION AS OF 'staging')
               AS staged_rows""").head()
      fastForward(s, t, from = "staging")
      val publishedRows =
        s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      // —— DSv2 WRITE leg: the reference's ETL commits THROUGH its
      //    catalog (csv_to_ice.py:58 writeTo/createOrReplace); gate
      //    the same shapes — SQL INSERT, CTAS from a time-travel
      //    pin, and createOrReplace retaining the replaced snapshot —
      //    each landing as one atomic Versioned commit ——
      s.sql(s"INSERT INTO $g VALUES (70, 'SQL_INSERT'), (71, 'SQL_INSERT')")
      val ins = s.sql(s"""SELECT count(*) FROM $g
        WHERE r_name = 'SQL_INSERT'""").head().getLong(0)
      val insTotal = s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      val t2 = work.resolve("ctas").toString
      val g2 = s"graft.`$t2`"
      s.sql(s"CREATE TABLE $g2 AS SELECT * FROM $g VERSION AS OF 1")
      val ctasRows = s.sql(s"SELECT count(*) FROM $g2").head().getLong(0)
      val replacedAt = currentVersion(s, t2)
      region.filter(col("r_regionkey") === 0)
        .select(lit(99).as("r_regionkey"), lit("REPLACED").as("r_name"))
        .writeTo(g2).createOrReplace()
      val replRows = s.sql(s"SELECT count(*) FROM $g2").head().getLong(0)
      val replOld = s.sql(
        s"SELECT count(*) FROM $g2 VERSION AS OF $replacedAt")
        .head().getLong(0)
      s.range(1).select(
        lit(r.getLong(0)).as("v1_rows"),
        lit(r.getLong(1)).as("v2_rows"),
        lit(r.getLong(2)).as("v3_rows"),
        lit(r.getLong(3)).as("cur_rows"),
        lit(r.getLong(4)).as("joined_rows"),
        lit(r.getLong(5)).as("appended_keysum"),
        lit(r.getLong(6)).as("cdc_updated"),
        lit(r.getLong(7)).as("cdc_before"),
        lit(w.getLong(0)).as("wap_main_before"),
        lit(w.getLong(1)).as("wap_staging_rows"),
        lit(publishedRows).as("wap_main_after"),
        lit(ins).as("sql_insert_rows"),
        lit(insTotal).as("sql_insert_total"),
        lit(ctasRows).as("ctas_rows"),
        lit(replRows).as("replaced_rows"),
        lit(replOld).as("replaced_old_rows"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** Oracle gate for SQL row-level DML (q42): a scripted DELETE /
    * UPDATE / MERGE sequence over a temp catalog table built from the
    * `region` fixture, reduced to constants the oracle states
    * literally — the same pattern as [[snapshotGate]]/
    * [[sqlTimeTravelGate]]. Exercises the [[graft.plans
    * .RowLevelDmlRule]] lowering end-to-end through `spark.sql`:
    * merge-on-read positional DELETE, copy-on-write UPDATE (old-row
    * SET semantics), a three-clause MERGE (conditional delete, update,
    * insert), a NOT MATCHED BY SOURCE pass, and time travel across all
    * of it. */
  def sqlDmlGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-sql-dml")
    try {
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val t = work.resolve("tbl").toString
      commit(region, t) // v1: keys 0..4
      val g = s"graft.`$t`"
      // —— DELETE (merge-on-read positional: no data file rewritten) ——
      val filesBefore = dataFileCount(s, t)
      s.sql(s"DELETE FROM $g WHERE r_regionkey = 1") // v2
      val delFilesSame = if (dataFileCount(s, t) == filesBefore) 1L else 0L
      val delAfter = s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      // —— UPDATE (copy-on-write; SET sees the OLD row) ——
      s.sql(s"UPDATE $g SET r_name = concat(r_name, '_U') " +
        "WHERE r_regionkey >= 3") // v3
      val updMarked = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE endswith(r_name, '_U')").head().getLong(0)
      // —— MERGE: conditional delete + update + insert, one commit ——
      import s.implicits._
      Seq((2, "MERGED"), (4, "KILL"), (7, "NEW")).toDF("k", "name")
        .createOrReplaceTempView("graft_dml_src")
      s.sql(s"""
        MERGE INTO $g USING graft_dml_src src ON $g.r_regionkey = src.k
        WHEN MATCHED AND src.name = 'KILL' THEN DELETE
        WHEN MATCHED THEN UPDATE SET r_name = src.name
        WHEN NOT MATCHED THEN
          INSERT (r_regionkey, r_name) VALUES (src.k, src.name)
      """) // v4: {0, 2=MERGED, 3_U, 7=NEW}; 4 killed
      val m = s.sql(s"""SELECT count(*),
          count(CASE WHEN r_name = 'MERGED' THEN 1 END),
          count(CASE WHEN r_regionkey = 7 THEN 1 END),
          count(CASE WHEN r_regionkey = 4 THEN 1 END) FROM $g""").head()
      // —— NOT MATCHED BY SOURCE: mark rows the source no longer has ——
      Seq(Tuple1(0)).toDF("k").createOrReplaceTempView("graft_dml_keep")
      s.sql(s"""
        MERGE INTO $g USING graft_dml_keep src
        ON $g.r_regionkey = src.k
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET r_name = 'STALE'
      """) // v5
      val stale = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE r_name = 'STALE'").head().getLong(0)
      // time travel across the whole DML chain
      val v1Rows = s.sql(s"SELECT count(*) FROM $g VERSION AS OF 1")
        .head().getLong(0)
      s.range(1).select(
        lit(delAfter).as("del_after"),
        lit(delFilesSame).as("del_files_same"),
        lit(updMarked).as("upd_marked"),
        lit(m.getLong(0)).as("merge_rows"),
        lit(m.getLong(1)).as("merge_updated"),
        lit(m.getLong(2)).as("merge_inserted"),
        lit(m.getLong(3)).as("merge_killed"),
        lit(stale).as("nmbs_stale"),
        lit(v1Rows).as("tt_v1_rows"),
        lit(currentVersion(s, t).toLong).as("final_version"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** Oracle gate for SQL schema evolution (q43): scripted ALTER TABLE
    * ADD / DROP / RENAME COLUMN through the catalog, reduced to
    * constants — null-fill on add, non-resurrection on drop-then-
    * re-add, time travel showing written shapes. Same pattern as
    * [[sqlDmlGate]]. */
  def schemaEvolutionGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-schema-evo")
    try {
      val t = work.resolve("tbl").toString
      val g = s"graft.`$t`"
      commit(Tables.load(s, d, "region")
        .filter(col("r_regionkey") < 3)
        .select(col("r_regionkey").as("id"), col("r_name").as("v")),
        t) // v1: 3 rows
      s.sql(s"ALTER TABLE $g ADD COLUMN score BIGINT") // v2
      s.sql(s"INSERT INTO $g VALUES (4, 'NEW', 40)") // v3
      val addNulls = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE score IS NULL").head().getLong(0)
      val addSet = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE score = 40").head().getLong(0)
      s.sql(s"ALTER TABLE $g DROP COLUMN v") // v4
      val colsAfter = s.table(g).columns.length.toLong
      val v1Cols = s.sql(s"SELECT * FROM $g VERSION AS OF 1")
        .columns.length.toLong
      s.sql(s"ALTER TABLE $g RENAME COLUMN id TO key") // v5
      val renamedSum = s.sql(s"SELECT sum(key) FROM $g")
        .head().getLong(0)
      // drop-then-re-add under the SAME name: old values stay gone
      s.sql(s"ALTER TABLE $g ADD COLUMN v STRING") // v6
      val readdNulls = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE v IS NULL").head().getLong(0)
      // metadata-only type widening: values intact at the wide type
      s.sql(s"ALTER TABLE $g ALTER COLUMN key TYPE BIGINT") // v7
      val retypeSum = s.sql(s"SELECT sum(key) FROM $g")
        .head().getLong(0)
      s.range(1).select(
        lit(addNulls).as("add_nulls"),
        lit(addSet).as("add_set"),
        lit(colsAfter).as("cols_after_drop"),
        lit(v1Cols).as("tt_v1_cols"),
        lit(renamedSum).as("renamed_sum"),
        lit(readdNulls).as("readd_nulls"),
        lit(retypeSum).as("retype_sum"),
        lit(currentVersion(s, t).toLong).as("final_version"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  // —— metadata tables (Iceberg `.history` / `.files` analogs) ——

  /** Named references of the table — the Iceberg `.refs` metadata
    * table: every tag and branch with the version it resolves to,
    * plus `main` (the unqualified read line). Driver metadata only. */
  def refs(spark: SparkSession, tableDir: String): DataFrame = {
    val rows =
      tags(spark, tableDir).toSeq.map { case (n, v) => (n, "tag", v) } ++
        branches(spark, tableDir).toSeq
          .map { case (n, v) => (n, "branch", v) } :+
        (("main", "branch", currentVersion(spark, tableDir)))
    import spark.implicits._
    rows.sortBy(r => (r._2, r._1)).toDF("name", "type", "version")
  }

  /** Snapshot history as a DataFrame — the Iceberg `.snapshots` /
    * `.history` metadata-table analog (the reference inspects the same
    * lineage through Iceberg's metadata JSON): one row per retained
    * version with its commit time (publish-marker mtime), note, and
    * manifest shape. Built from marker/manifest metadata only — no data
    * file is opened. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    val f = fs(spark, tableDir)
    val rows = committedVersions(spark, tableDir).map { v =>
      val entries = manifestLines(f, tableDir, v)
      (v,
        new java.sql.Timestamp(f.getFileStatus(
          new Path(tableDir, s"$MarkerPrefix$v")).getModificationTime),
        readNote(f, tableDir, v),
        entries.size,
        // an append/merge links prior dirs or files; a full commit or
        // compact is self-contained (its only entry is itself)
        entries != Seq(s"v=$v"))
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "note", "n_entries", "linked")
  }

  /** Per-commit summary — the Iceberg `.snapshots` metadata-table
    * analog: one row per RETAINED version up to the pin, with its
    * publish time, parent, an operation inferred from the manifest
    * diff against the parent (append / delete / replace / metadata /
    * commit), the commit note, file-level added/removed counts, and
    * the rows this commit added (its own root's count sidecar — the
    * number [[commitStaged]] harvested from the write job). Driver
    * metadata-scale: one manifest read + one sidecar read per
    * version; file listings only over the DIFF entries (O(delta) for
    * the append steady state). Counts are null, never wrong, when a
    * diff base was vacuumed or a root predates count sidecars. */
  def snapshots(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val f = fs(spark, tableDir)
    val branched = hasBranchRefs(f, tableDir)
    val vs = committedVersions(spark, tableDir)
      .filter(v => version.forall(v <= _))
    val retained = vs.toSet
    val rows = vs.map { v =>
      val entries = manifestLines(f, tableDir, v)
      val parent =
        if (branched) refInfo(f, tableDir, v)._2 else v - 1
      val parentEntries: Option[Seq[String]] =
        if (parent <= 0) Some(Nil)
        else if (retained(parent))
          Some(manifestLines(f, tableDir, parent))
        else None // vacuumed diff base: report null, never guess
      val added = parentEntries.map(pe => entries.filterNot(pe.toSet))
      val removed = parentEntries.map(_.filterNot(entries.toSet))
      def fileCount(es: Seq[String]): Option[Long] = Try(es.map { e0 =>
        val e = e0.stripPrefix(DeletePrefix)
        if (isDeleteLine(e0)) deleteEntryFiles(f, tableDir, e).size
        else entryFiles(f, tableDir, e).size
      }.sum.toLong).toOption
      val op = (added, removed) match {
        case (Some(a), Some(r)) =>
          if (parent <= 0) "commit"
          else if (a.exists(isDeleteLine)) "delete"
          else if (a.isEmpty && r.isEmpty) "metadata"
          else if (r.isEmpty) "append"
          else "replace"
        case _ => null
      }
      // rows this commit wrote = its own root's sidecar counts
      val addedRows: Option[Long] = {
        val own = readStatsFile(spark, f, tableDir, s"v=$v")
          .filter(_.values >= 0L)
        if (own.isEmpty) None
        else Some(own.groupBy(_.file).map(_._2.head.values).sum)
      }
      (v,
        new java.sql.Timestamp(f.getFileStatus(
          new Path(tableDir, s"$MarkerPrefix$v")).getModificationTime),
        if (parent > 0) Some(parent) else None,
        op, readNote(f, tableDir, v),
        added.flatMap(fileCount), removed.flatMap(fileCount),
        addedRows)
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "parent_version", "operation",
      "note", "added_files", "removed_files", "added_rows")
  }

  /** Per-entry inventory of a snapshot's manifest — the Iceberg
    * `.manifests` analog restated for this layout (one manifest FILE
    * per version listing entries, where Iceberg has avro manifest
    * files listing data files): one row per manifest entry with the
    * version that wrote it, its kind (`data` / `delete`), whether it
    * is linked from an older version, its file count and total bytes.
    * The entry-granular view between `.history` (per version) and
    * `.files` (per file) — what an operator reads to see how a
    * snapshot composes before targeting maintenance. O(entries) FS
    * listings, no file contents. */
  def manifests(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val rows = manifestLines(f, tableDir, v).map { e0 =>
      val e = e0.stripPrefix(DeletePrefix)
      val kind = if (isDeleteLine(e0)) "delete" else "data"
      val fls =
        if (isDeleteLine(e0))
          deleteEntryFiles(f, tableDir, e)
            .map(p => f.getFileStatus(p).getLen)
        else entryFiles(f, tableDir, e)
          .map(r => f.getFileStatus(new Path(tableDir, r)).getLen)
      (e, entryVer(e0), kind, entryVer(e0) != v,
        fls.size.toLong, fls.sum)
    }
    import spark.implicits._
    rows.toDF("entry", "version", "kind", "linked", "file_count",
      "total_bytes")
  }

  /** Per-file inventory of a snapshot — the Iceberg `.files`
    * metadata-table analog: every data file the version's manifest
    * reaches, with its size, owning entry, whether it is LINKED from an
    * older version (O(delta) append / file-level merge) or written by
    * this version, and its kind (`data`, or `delete` for a
    * merge-on-read tombstone's key files). Metadata-scale: one FS
    * listing per manifest entry, no file contents read. */
  /** Every file of every RETAINED snapshot — Iceberg's `all_files`
    * metadata table: one row per (snapshot, file), so a file linked
    * by several snapshots appears once per snapshot (Iceberg's all_*
    * tables behave the same). The vacuum-planning view: a physical
    * file absent from this table is reclaim debris. O(versions)
    * manifest/sidecar reads, never a data scan. */
  def allFiles(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = committedVersions(spark, tableDir)
    require(vs.nonEmpty, s"no committed version at $tableDir")
    vs.map(v => files(spark, tableDir, Some(v))
      .withColumn("snapshot", lit(v))).reduce(_ unionAll _)
  }

  /** Every manifest entry of every RETAINED snapshot — Iceberg's
    * `.all_manifests` metadata table: [[manifests]] rows per version
    * with a `snapshot` column, so an entry linked across N snapshots
    * appears N times (the lineage view maintenance tooling walks).
    * Whole-table metadata like [[allFiles]]: VERSION AS OF refuses
    * (pin `.manifests` instead). */
  def allManifests(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = committedVersions(spark, tableDir)
    require(vs.nonEmpty, s"no committed version at $tableDir")
    vs.map(v => manifests(spark, tableDir, Some(v))
      .withColumn("snapshot", lit(v))).reduce(_ unionAll _)
  }

  /** The metadata publish log — Iceberg's `.metadata_log_entries`
    * analog: one row per RETAINED commit marker, with its publish
    * timestamp, the marker file's absolute path, and the version it
    * published (the protocol's "metadata file" IS the marker — the
    * manifest sidecars hang off its version). Driver metadata-scale:
    * one FileStatus per retained version, nothing else read. */
  def metadataLog(spark: SparkSession, tableDir: String): DataFrame = {
    val f = fs(spark, tableDir)
    val rows = committedVersions(spark, tableDir).map { v =>
      val p = new Path(tableDir, s"$MarkerPrefix$v")
      (new java.sql.Timestamp(f.getFileStatus(p).getModificationTime),
        p.toString, v)
    }
    import spark.implicits._
    rows.toDF("committed_at", "file", "version")
  }

  /** Shared per-file listing of one snapshot's manifest reach:
    * (rel path, bytes, owning entry, linked-from-older, kind). */
  private def fileRowsOf(f: org.apache.hadoop.fs.FileSystem,
      tableDir: String, v: Int)
      : Seq[(String, Long, String, Boolean, String)] = {
    val root = qualifiedRoot(f, tableDir)
    manifestLines(f, tableDir, v).flatMap { e0 =>
      val e = e0.stripPrefix(DeletePrefix)
      val kind = if (isDeleteLine(e0)) "delete" else "data"
      // a tombstone entry's key files live under `_deletes`, which
      // entryFiles deliberately hides from DATA listings
      val fls =
        if (isDeleteLine(e0))
          deleteEntryFiles(f, tableDir, e)
            .map(_.toUri.getPath.stripPrefix(root + "/"))
        else entryFiles(f, tableDir, e)
      fls.map { rel =>
        (rel, f.getFileStatus(new Path(tableDir, rel)).getLen,
          e, !rel.startsWith(s"v=$v/"), kind)
      }
    }
  }

  def files(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    import spark.implicits._
    fileRowsOf(fs(spark, tableDir), tableDir, v)
      .toDF("file", "size_bytes", "entry", "linked", "kind")
  }

  /** Per-file manifest entries with LIFECYCLE status — the Iceberg
    * `.entries` metadata-table analog (status 1=added / 0=existing /
    * 2=deleted, spelled out): every file the snapshot reaches, marked
    * `added` (written by this version) or `existing` (linked from an
    * older entry — the O(delta) chain), plus `deleted` rows for files
    * the PARENT snapshot reached that this one no longer does (a CoW
    * rewrite's replaced inputs, a compaction's collapsed roots and
    * absorbed tombstone keys). The file-granular diff view between
    * `.snapshots` (per-version added/removed COUNTS) and `.files`
    * (current reach only) — what an operator reads to see exactly
    * which bytes a commit turned over. Parent follows the branch line
    * like [[snapshots]]; a vacuumed diff base yields the reach rows
    * but no deleted rows (the same never-guess contract as
    * `.snapshots`' null diff counts). O(entries) FS listings, no file
    * contents. */
  def entries(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val cur = fileRowsOf(f, tableDir, v)
    val parent =
      if (hasBranchRefs(f, tableDir)) refInfo(f, tableDir, v)._2
      else v - 1
    val curSet = cur.map(_._1).toSet
    val deleted =
      if (parent > 0 && committedVersions(spark, tableDir)
          .contains(parent))
        fileRowsOf(f, tableDir, parent)
          .filterNot(r => curSet(r._1))
          .map(r => (r._1, r._2, r._3, r._5, "deleted"))
      else Nil
    val rows = cur.map(r => (r._1, r._2, r._3, r._5,
      if (r._4) "existing" else "added")) ++ deleted
    import spark.implicits._
    rows.toDF("file", "size_bytes", "entry", "kind", "status")
  }

  /** The positional tombstones a snapshot carries — the Iceberg
    * `.position_deletes` metadata-table analog: one row per deleted
    * (data file, row ordinal) coordinate, with the commit that wrote
    * the tombstone and the tombstone file it lives in. Unlike the
    * driver-metadata tables this one SCANS the tombstone key files
    * (they are data-scale — a billion-row delete writes a billion
    * coordinates), so the frame is a distributed parquet read of
    * exactly the `_posdeletes` files the snapshot's manifest reaches:
    * O(tombstone bytes), never a data-file scan, and empty the moment
    * `compact`/`compactDeletes` absorbs them. Equality tombstones are
    * key-valued, not positional — they surface through `.files` kinds
    * and `readChanges`, matching Iceberg where equality deletes are
    * likewise absent from position_deletes. */
  /** The `.stats` metadata table: the live snapshot's stats-sidecar
    * rows, SQL-queryable — one row per (data file, column) bound plus
    * the count-only pseudo rows (NULL column) that ride every data
    * commit. This is the observability window onto what the
    * metadata-only aggregate and manifest pruning can serve: a column
    * missing here for some file explains a fallback scan, and
    * `collect_stats`/ANALYZE fills it. Driver-metadata scale (one
    * sidecar read per linked version root); accepts VERSION AS OF. */
  def statsTable(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val f = fs(spark, tableDir)
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val byRoot = scala.collection.mutable
      .Map.empty[String, Map[String, Seq[StatRow]]]
    def rootStats(vr: String): Map[String, Seq[StatRow]] =
      byRoot.getOrElseUpdate(vr,
        readStatsFile(spark, f, tableDir, vr).groupBy(_.file))
    val rows = manifestDirs(f, tableDir, v).flatMap { e =>
      val vr = e.split("/").head
      entryFiles(f, tableDir, e).flatMap { rel =>
        rootStats(vr).getOrElse(rel.stripPrefix(vr + "/"), Nil)
          .map { sr =>
            val pseudo = sr.col.isEmpty
            (rel,
              if (pseudo) None else Some(sr.col),
              if (pseudo) None else Some(sr.dtype),
              Option(sr.minV), Option(sr.maxV),
              if (sr.nulls >= 0) Some(sr.nulls) else None,
              if (sr.values >= 0) Some(sr.values) else None)
          }
      }
    }
    import spark.implicits._
    rows.toDF("file", "column", "dtype", "min", "max",
        "null_count", "value_count")
      .orderBy(col("file"), col("column"))
  }

  def positionDeletes(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val perVer = manifestLines(f, tableDir, v)
      .filter(isDeleteLine)
      .map(_.stripPrefix(DeletePrefix))
      .filter(_.endsWith("/" + PosDeletesDir))
      .map(e => (entryVer(e),
        deleteEntryFiles(f, tableDir, e).map(_.toString)))
      .filter(_._2.nonEmpty)
    if (perVer.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("file", StringType),
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("delete_version",
            IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("delete_file",
            StringType, nullable = false))))
    else perVer.map { case (dv, fls) =>
      spark.read.parquet(fls: _*)
        .select(col("file"), col("pos"),
          lit(dv).as("delete_version"),
          input_file_name().as("delete_file"))
    }.reduce(_ unionAll _)
  }

  /** Per-partition rollup of a snapshot — the Iceberg `.partitions`
    * metadata-table analog: one row per distinct partition VALUE with
    * its file count, physical row count, and total bytes — the first
    * table an operator checks for skew, and the input to targeted
    * compaction. Row counts come from each version root's `_stats.tsv`
    * sidecar (`cnt__all`, persisted at write time — Iceberg serves the
    * same number from manifest `record_count` for the same reason):
    * one sidecar read per LINKED VERSION, not one parquet footer open
    * per FILE, so the rollup stays O(versions) driver I/O at any file
    * count. Files whose root has no sidecar (stats-less commits,
    * pre-v2 sidecars without counts) fall back to a footer open —
    * degrade, never lie. Counts are PHYSICAL per-file rows: merge-on-read
    * tombstones are NOT applied (the same contract as Iceberg's
    * partitions table, which reports manifest record counts).
    * The partition value renders as the hive path segment with the
    * hidden-transform prefix stripped (`days_ts=2024-01-02`,
    * `bucket8_k=3`, identity `id_region=emea`; multi-level layouts
    * join with `/`); files of unpartitioned commits roll up under
    * NULL — one table can mix layouts across spec evolutions, and the
    * rollup shows exactly which files carry which. */
  def partitions(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val conf = spark.sessionState.newHadoopConf()
    val files = manifestLines(f, tableDir, v)
      .filterNot(isDeleteLine)
      .flatMap(e => entryFiles(f, tableDir, e))
    // one sidecar read per linked version root: StatRow.values carries
    // the file's total row count (cnt__all) in format v2; -1 = unknown
    val statRoots = files.map(_.takeWhile(_ != '/')).distinct
    val sidecarCounts: Map[String, Long] = statRoots.flatMap { vroot =>
      readStatsFile(spark, f, tableDir, vroot).collect {
        case sr if sr.values >= 0L => s"$vroot/${sr.file}" -> sr.values
      }
    }.toMap
    val perFile = files.map { rel =>
      val part = rel.split("/").drop(1).dropRight(1)
        .filter(_.contains("="))
        .map(_.replaceFirst("^" + TransformPrefix, ""))
        .mkString("/")
      val p = new Path(tableDir, rel)
      // None = UNKNOWN (a transiently unreadable footer): the rollup
      // reports NULL for a partition containing such a file rather
      // than silently understating it as 0 rows — an operator reading
      // the metadata table must see "unknown", not "near-empty"
      val rc: Option[Long] = sidecarCounts.get(rel).orElse {
        footerOpenCount.incrementAndGet()
        Try(FsFast.footerRowCount(f, conf, p)).toOption
      }
      (if (part.isEmpty) null else part, rc,
        f.getFileStatus(p).getLen)
    }
    val rows = perFile.groupBy(_._1).toSeq.map { case (part, fls) =>
      val counts = fls.map(_._2)
      (part, fls.size.toLong,
        if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None,
        fls.map(_._3).sum)
    }.sortBy(r => Option(r._1).getOrElse(""))
    import spark.implicits._
    rows.toDF("partition", "file_count", "row_count", "total_bytes")
  }

  /** The resolved DATA-FILE list of a snapshot, for a SECOND engine to
    * scan directly — the reference's actual thesis: two engines over
    * ONE table (README.md:52-53 DuckDB `iceberg_scan` and :78 Presto
    * `iceberg.db.nyc_taxi_table` both read the files Spark wrote). A
    * raw columnar reader (DuckDB `read_parquet([...])`) handed exactly
    * these absolute paths must reproduce `read(version)` — so the
    * contract REFUSES, loudly and specifically, whenever the bare
    * files cannot carry the snapshot's semantics on their own:
    *
    *  - LIVE merge-on-read tombstones (equality or positional) that
    *    apply to an older linked entry — a raw scan would resurrect
    *    deleted rows. Run [[compactDeletes]]/[[compact]] first; the
    *    rewrite absorbs the tombstones and the next export succeeds.
    *  - PENDING schema steps (rename/add/drop/retype newer than a
    *    linked entry) — the files carry pre-evolution names/types that
    *    only this engine's read path knows how to evolve. [[compact]]
    *    materializes today's schema into self-contained files.
    *  - HIVE-PARTITIONED roots — the partition value lives in the
    *    directory name, not in the file, and hidden-transform columns
    *    (`days_…=`, `bucketN_…=`) are derived values a generic
    *    `hive_partitioning` reader would surface as spurious columns.
    *    `hivePartitions = true` waives ONLY this refusal, for
    *    consumers that either parse hive paths themselves (DuckDB
    *    `hive_partitioning = 1`) or do not need the partition column
    *    at all — e.g. the persisted text index, whose `bucket=` value
    *    is pure derived metadata (`hash(term) % buckets`), never
    *    payload ([[graft.operators.TextAnalysis.exportTextIndex]]).
    *
    * Refusal is the Iceberg-parity answer: Iceberg's spec makes the
    * same data unreachable to a plain-parquet reader (delete files,
    * field-id renames), and interop there also goes through a
    * compaction/rewrite. O(manifest) driver I/O — no data file is
    * opened; paths come from the same [[entryFiles]] listing the read
    * path scans, so export and `read` can never disagree about what is
    * in the snapshot. */
  def exportSnapshot(spark: SparkSession, tableDir: String,
      version: Option[Int] = None,
      hivePartitions: Boolean = false): Seq[String] = {
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val lines = manifestLines(f, tableDir, v)
    val dataEntries = lines.filterNot(isDeleteLine)
    val liveTombs = lines.filter(isDeleteLine).map(entryVer)
      .filter(tv => dataEntries.exists(e => tv > entryVer(e)))
    if (liveTombs.nonEmpty) throw new IllegalStateException(
      s"cannot export snapshot v$v of $tableDir: live merge-on-read " +
        s"tombstone(s) at version(s) ${liveTombs.sorted.mkString(", ")} " +
        "apply to older data entries — a raw parquet scan of the " +
        "exported files would resurrect deleted rows; run " +
        "compactDeletes/compact first")
    val pending = renameChain(f, tableDir, v)
      .filter(st => dataEntries.exists(e => st.ver > entryVer(e)))
    if (pending.nonEmpty) throw new IllegalStateException(
      s"cannot export snapshot v$v of $tableDir: pending schema " +
        s"step(s) at version(s) ${pending.map(_.ver).distinct.sorted
          .mkString(", ")} apply to older data entries — the files " +
        "carry pre-evolution column names/types; compact first to " +
        "materialize the current schema")
    val root = qualifiedRoot(f, tableDir)
    val rels = dataEntries.flatMap(e => entryFiles(f, tableDir, e))
    val hive = rels.filter(
      _.split("/").drop(1).dropRight(1).exists(_.contains("=")))
    if (hive.nonEmpty && !hivePartitions) throw new IllegalStateException(
      s"cannot export snapshot v$v of $tableDir: ${hive.size} file(s) " +
        "live under hive-partition directories (e.g. " +
        s"${hive.head}) — partition values are path metadata a raw " +
        "read_parquet scan drops; compact without a partition spec " +
        "to materialize them as columns")
    rels.map(r => s"$root/$r")
  }

  /** File list resolved by the LAST [[exportGate]] run in this JVM —
    * SparkEntry.oracleSql embeds it literally into the q47 DuckDB
    * `read_parquet([...])` oracle. Verify dumps oracle SQL AFTER
    * running every query, so the list is always populated when the
    * driver reads it; when no gate ran (a standalone oracle dump) the
    * q47 entry is omitted and the driver records a rows-only check. */
  @volatile private[graft] var lastExport: Option[Seq[String]] = None

  /** Driver-visible gate for CROSS-ENGINE SHARED-TABLE reads — q47.
    * Unlike the constant-emitting gates, BOTH sides of this oracle
    * compute over the graft table's OWN data files: the Spark side
    * aggregates `Versioned.read` over a table taken through appends,
    * schema evolution (add + rename), a merge-on-read delete, a
    * compaction, and a post-compaction append; the DuckDB side runs
    * the SAME aggregate over `read_parquet([exportSnapshot files])`.
    * A hash match proves the LAYOUT is engine-portable — the
    * reference's two-engines-one-table claim (README.md:52-53 vs :78)
    * — not merely that two SQL dialects agree on fixture data. The
    * work dir intentionally OUTLIVES the gate (no cleanup): the
    * driver's DuckDB pass reads the exported files after this JVM
    * exits. Temp-dir sized: tens of KB of nation-fixture rows. */
  def exportGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-export-gate")
    val t = work.resolve("share").toString
    val nation = s.read.parquet(s"$d/nation.parquet")
      .select(col("n_nationkey").cast("int"),
        col("n_name").cast("string"), col("n_regionkey").cast("int"))
    commit(nation.filter(col("n_nationkey") < 13), t)       // v1: 13 rows
    append(nation.filter(col("n_nationkey") >= 13), t)      // v2: +12
    addColumn(s, t, "score", DoubleType)                    // v3: metadata
    renameColumn(s, t, "n_name", "name")                    // v4: metadata
    import s.implicits._
    deleteRows(s, t, Seq(3, 17).toDF("n_nationkey"))        // v5: MoR tomb
    // the refusal IS part of the contract: raw files at v5 would
    // resurrect keys 3 and 17
    val refusedTombs = Try(exportSnapshot(s, t)).isFailure
    compact(s, t)                                           // v6: clean
    // a post-compaction append makes the export span TWO manifest
    // entries — the O(delta) chain shape, not a single-dir special case
    val extra = nation.filter(col("n_nationkey") < 2)
      .select((col("n_nationkey") + 100).cast("int").as("n_nationkey"),
        concat(col("n_name"), lit("_X")).as("name"),
        col("n_regionkey"),
        (col("n_nationkey") * 1.5 + 0.25).cast("double").as("score"))
    append(extra, t)                                        // v7: +2
    val files = exportSnapshot(s, t)
    lastExport = Some(files)
    read(s, t)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("n_nationkey")).as("keysum"),
        sum(col("score")).as("scoresum"),
        sum(length(col("name"))).as("namelen"))
      .withColumn("refused_tombs", lit(if (refusedTombs) 1L else 0L))
      .withColumn("n_files",
        lit(if (files.size >= 2) 1L else 0L))
      .orderBy(col("n_regionkey"))
  }

  /** Driver-visible gate for CROSS-ENGINE INGEST — q48, the mirror of
    * [[exportGate]]'s read direction: the fixture `nation.parquet` is
    * PYARROW-written (a genuinely foreign engine's parquet), and
    * [[importFiles]] makes it table data without a rewrite. Both
    * oracle sides then aggregate the SAME bytes: Spark through
    * `Versioned.read` over the imported table (two imports linked as
    * an O(delta) chain, one merge-on-read key delete applied), DuckDB
    * through the fixture table the files came from (`nation UNION ALL
    * nation` minus the deleted key). A hash match proves foreign
    * parquet round-trips the import path bit-for-bit. */
  /** The q53 gate: the metadata-only aggregate
    * ([[statsAggregate]] via the analyzer rewrite) reduced to a row
    * the DuckDB oracle RECOMPUTES from the nation fixture — the
    * aggregate VALUES are genuinely restated cross-engine, and the
    * structural flags pin where each answer came from: `served_*` = 1
    * means the executed plan contained NO parquet scan (the sidecar
    * path), `del_scan` = 1 means a live MoR tombstone forced the
    * fallback scan plan (whose values must still be right), and
    * `recovered` = 1 means compaction re-enabled the metadata path.
    * Nation is SF-independent, so the oracle's subselects are exact
    * at every scale factor. */
  def metadataAggGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-magg-gate")
    def scanFree(df: DataFrame): Boolean =
      !df.queryExecution.executedPlan.toString.contains("Scan parquet")
    try {
      val t = work.resolve("tbl").toString
      val abs = new java.io.File(t).getAbsolutePath
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      commit(nation.filter(col("n_nationkey") < 13), t,
        statsCols = Seq("n_nationkey", "n_name"))
      append(nation.filter(col("n_nationkey") >= 13), t,
        statsCols = Seq("n_nationkey", "n_name"))
      val head = s.sql(s"SELECT min(n_nationkey) AS mn, " +
        s"max(n_nationkey) AS mx, count(*) AS n, max(n_name) AS mxn " +
        s"FROM graft.`$abs`")
      val servedHead = scanFree(head)
      val h = head.head()
      // the DATASET spelling of the same aggregate serves too: the
      // expansion's snapshot tag recovers the table identity after
      // spark.table() has already expanded the relation
      val dsQ = s.table(s"graft.`$abs`").agg(
        max(col("n_nationkey")).as("mx"), count(lit(1)).as("n"))
      val servedDs = scanFree(dsQ)
      val dsRow = dsQ.head()
      val pin = s.sql(s"SELECT max(n_nationkey) AS mx " +
        s"FROM graft.`$abs` VERSION AS OF 1")
      val servedPin = scanFree(pin)
      val pinMx = pin.head().get(0)
      // the GROUPED rollup on a hive-partitioned sibling: per-region
      // counts and bounds fold from each partition's own files
      val tg = work.resolve("tbl_grouped").toString
      val absG = new java.io.File(tg).getAbsolutePath
      commit(Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey")), tg,
        partitionCol = Some("n_regionkey"),
        statsCols = Seq("n_nationkey"))
      val grouped = s.sql(s"SELECT n_regionkey, count(*) AS n, " +
        s"max(n_nationkey) AS mx FROM graft.`$absG` " +
        "GROUP BY n_regionkey")
      val servedGrp = scanFree(grouped)
      val gRows = grouped.collect()
      val grpTotal = gRows.map(_.getLong(1)).sum
      val grp0Mx = gRows.find(r =>
        r.get(0).asInstanceOf[Number].longValue == 0L)
        .map(_.get(2).asInstanceOf[Number].longValue).getOrElse(-1L)
      // a live tombstone must flip the SAME SQL to the scan plan
      import s.implicits._
      deleteRows(s, t, Seq(24).toDF("n_nationkey"))
      val afterDel = s.sql(s"SELECT max(n_nationkey) AS mx, " +
        s"count(*) AS n FROM graft.`$abs`")
      val delScan = !scanFree(afterDel)
      val ad = afterDel.head()
      compact(s, t, statsCols = Seq("n_nationkey", "n_name"))
      val rec = s.sql(s"SELECT max(n_nationkey) AS mx, count(*) AS n " +
        s"FROM graft.`$abs`")
      val recovered = scanFree(rec)
      val rc = rec.head()
      def lv(v: Any): Long = v.asInstanceOf[Number].longValue
      s.range(1).select(
        lit(if (servedHead) 1L else 0L).as("served_head"),
        lit(lv(h.get(0))).as("mn"),
        lit(lv(h.get(1))).as("mx"),
        lit(h.getLong(2)).as("n_rows"),
        lit(h.getString(3)).as("mx_name"),
        lit(if (servedDs) 1L else 0L).as("served_ds"),
        lit(lv(dsRow.get(0))).as("ds_mx"),
        lit(dsRow.getLong(1)).as("ds_n"),
        lit(if (servedPin) 1L else 0L).as("served_pin"),
        lit(lv(pinMx)).as("pin_mx"),
        lit(if (servedGrp) 1L else 0L).as("served_grp"),
        lit(gRows.length.toLong).as("n_groups"),
        lit(grpTotal).as("grp_rows_total"),
        lit(grp0Mx).as("grp0_mx"),
        lit(if (delScan) 1L else 0L).as("del_scan"),
        lit(lv(ad.get(0))).as("del_mx"),
        lit(ad.getLong(1)).as("del_n"),
        lit(if (recovered) 1L else 0L).as("recovered"),
        lit(lv(rc.get(0))).as("rec_mx"),
        lit(rc.getLong(1)).as("rec_n"))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(work.toFile)
    }
  }

  /** The q49 gate: [[cloneTable]] reduced to engine-independent
    * constants — build a small nation-derived table (commit + append
    * + a property), clone it, then DESTROY the source directory
    * entirely and probe the clone: the byte-ownership contract means
    * every number must still answer. One constant row the DuckDB
    * oracle states literally (nation is SF-independent). */
  def cloneGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-clone-gate")
    try {
      val src = work.resolve("src").toString
      val dst = work.resolve("dst").toString
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      commit(nation.filter(col("n_nationkey") < 10), src)
      append(nation.filter(
        col("n_nationkey") >= 10 && col("n_nationkey") < 15), src)
      setProperties(s, src,
        set = Map("write.target-file-size-bytes" -> "1048576"))
      cloneTable(s, src, dst)
      // the byte-ownership probe: no source, no excuses
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(src))
      val cloneRows = read(s, dst).count()            // 15
      val keysum = read(s, dst)
        .agg(sum(col("n_nationkey"))).head().getLong(0) // 0..14 = 105
      val propOk = properties(s, dst)
        .get("write.target-file-size-bytes").contains("1048576")
      append(nation.filter(col("n_nationkey") >= 20), dst) // +5
      val grown = read(s, dst).count()                // 20
      s.range(1).select(
        lit(cloneRows).as("clone_rows"),
        lit(keysum).as("keysum"),
        lit(if (propOk) 1L else 0L).as("props_carried"),
        lit(grown).as("rows_after_divergent_append"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  def importGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-import-gate")
    try {
      val t = work.resolve("imported").toString
      val fixture = s"$d/nation.parquet"
      importFiles(s, t, Seq(fixture))   // v1: 25 foreign rows, no rewrite
      importFiles(s, t, Seq(fixture))   // v2: +25, linked O(delta) chain
      import s.implicits._
      deleteRows(s, t, Seq(3).toDF("n_nationkey")) // v3: kills both copies
      val v1Rows = read(s, t, Some(1)).count()
      val out = read(s, t)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey")).as("keysum"))
        .withColumn("v1_rows", lit(v1Rows))
        .orderBy(col("n_regionkey"))
      // materialize BEFORE the finally deletes the scratch table the
      // lazy plan would otherwise re-scan
      s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** Driver-visible gate over the snapshot/manifest surface — the
    * d07/s04 pattern: build small versioned tables from the fixture's
    * SF-independent `region`/`nation` tables (commit → O(delta) append
    * → readWhere → file-level upsert → merge-on-read delete → compact,
    * plus a `days(ts)`-transform-partitioned chain standing in for the
    * layout the reference hand-codes in csv_to_ice.py:25,54), reduce
    * each invariant to an engine-independent constant, and emit ONE row
    * the DuckDB oracle states literally. All row-count probes are
    * pinned to explicit versions and evaluated in a SINGLE batched
    * action at the end — the gate's cost is its writes, not a stack of
    * per-count jobs on the scheduler's action floor. */
  def snapshotGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft-snapshot-gate")
    def fileState(dirs: String*): Map[String, (Long, Long)] =
      dirs.flatMap { dir =>
        Files.walk(Paths.get(dir)).iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString ->
            (Files.getLastModifiedTime(p).toMillis, Files.size(p)))
      }.toMap
    try {
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
      // — unpartitioned chain with stats: commit 3 rows, append 2 —
      val t = work.resolve("tbl").toString
      commit(region.filter(col("r_regionkey") < 3).repartition(3), t,
        statsCols = Seq("r_regionkey"))
      val before = fileState(s"$t/v=1")
      append(region.filter(col("r_regionkey") >= 3), t,
        statsCols = Seq("r_regionkey"))
      val untouched = fileState(s"$t/v=1") == before
      // — file-level merge (v3): one key rewritten, prior files linked —
      upsert(s, t, region.filter(col("r_regionkey") === 0)
        .withColumn("r_name", lit("REWRITTEN")), "r_regionkey")
      val mOwnFiles = fileState(s"$t/v=3").size
      // — merge-on-read delete (v4): tombstone only, no data rewrite —
      val beforeMor = fileState(s"$t/v=1", s"$t/v=2", s"$t/v=3")
      import s.implicits._
      deleteRows(s, t, Seq(1).toDF("r_regionkey"))
      val morUntouched =
        fileState(s"$t/v=1", s"$t/v=2", s"$t/v=3") == beforeMor
      // — compact (v5): tombstones collapse into data —
      compact(s, t)
      // — positional delete (v6): (file, ordinal) tombstone, no data
      //   rewrite — then compact (v7) collapses it —
      val beforePos = fileState(s"$t/v=5")
      deleteWhere(s, t, col("r_regionkey") >= 3)
      val posUntouched = fileState(s"$t/v=5") == beforePos
      compact(s, t)
      // — transform-partitioned chain: days(ts) derived and HIDDEN
      //   (vs the reference's hand-materialized day column) —
      val tp = work.resolve("tbl_part").toString
      val natTs = nation.withColumn("ts",
        date_add(to_date(lit("2024-01-01")),
          pmod(col("n_nationkey"), lit(5)).cast("int")).cast("timestamp"))
      val days = Some(Transform.Days("ts"))
      commit(natTs.filter(col("n_nationkey") < 13), tp, transform = days)
      append(natTs.filter(col("n_nationkey") >= 13), tp, transform = days)
      val pHidden = read(s, tp).columns
        .forall(!_.startsWith(TransformPrefix))
      // metadata-only rollback: the current content is v1's again
      val rbV = rollback(s, tp, 1)
      // — ONE batched action for every row-count probe, versions pinned —
      val rw = readWhere(s, t, "r_regionkey", 0, 0, Some(2))
      val pruned = rw.inputFiles.length <
        read(s, t, Some(2)).inputFiles.length
      def probe(tag: String, df: DataFrame, a: Column,
          b: Column = lit(0L)): DataFrame =
        df.agg(a.cast("long").as("a"), b.cast("long").as("b"))
          .select(lit(tag).as("t"), col("a"), col("b"))
      val n = count(lit(1))
      val probes = Seq(
        probe("v1", read(s, t, Some(1)), n),
        probe("v2", read(s, t, Some(2)), n),
        probe("rw", rw, n),
        probe("m", read(s, t, Some(3)), n,
          sum(when(col("r_name") === "REWRITTEN", 1L).otherwise(0L))),
        probe("mor", read(s, t, Some(4)), n,
          sum(when(col("r_regionkey") === 1, 1L).otherwise(0L))),
        probe("cmp", read(s, t, Some(5)), n),
        probe("pd", read(s, t, Some(6)), n,
          sum(when(col("r_regionkey") >= 3, 1L).otherwise(0L))),
        probe("cmp2", read(s, t, Some(7)), n),
        probe("pv1", read(s, tp, Some(1)), n),
        probe("p2", read(s, tp, Some(2)), n,
          sum(when(col("n_regionkey") === 2, 1L).otherwise(0L))),
        probe("pts", readWhere(s, tp, "ts",
          "2024-01-02 00:00:00", "2024-01-03 00:00:00", Some(2)), n),
        probe("rb", read(s, tp), n))
      // tombstone / own-file inventories are FS metadata — no Spark job
      val v4Files = fileState(s"$t/v=4").keys.toSeq
      val morTomb = v4Files.count(_.contains(s"/$DeletesDir/"))
      val morOwnData = v4Files.count(!_.contains(s"/$DeletesDir/"))
      val cmpTomb = fileState(s"$t/v=5").keys
        .count(_.contains(s"/$DeletesDir/"))
      val pdTomb = fileState(s"$t/v=6").keys
        .count(_.contains(s"/$PosDeletesDir/"))
      val pdOwnData = fileState(s"$t/v=6").keys
        .count(!_.contains(s"/$PosDeletesDir/"))
      val cmp2Tomb = fileState(s"$t/v=7").keys
        .count(_.contains(s"/$PosDeletesDir/"))
      val r = probes.reduce(_.unionByName(_)).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
      s.range(1).select(
        lit(r("v1")._1).as("v1_rows"),
        lit(r("v2")._1).as("v2_rows"),
        lit(r("rw")._1).as("rw_rows"),
        lit(if (pruned) 1L else 0L).as("files_pruned"),
        lit(if (untouched) 1L else 0L).as("prior_untouched"),
        lit(r("m")._1).as("merge_rows"),
        lit(r("m")._2).as("merge_hit"),
        lit(mOwnFiles.toLong).as("merge_own_files"),
        lit(r("v1")._1).as("merge_tt_rows"),
        lit(r("mor")._1).as("mor_rows"),
        lit(r("mor")._2).as("mor_hit"),
        lit(if (morUntouched) 1L else 0L).as("mor_prior_untouched"),
        lit(morTomb.toLong).as("mor_tomb_files"),
        lit(morOwnData.toLong).as("mor_own_data_files"),
        lit(r("cmp")._1).as("compact_rows"),
        lit(cmpTomb.toLong).as("compact_tomb_files"),
        lit(r("pd")._1).as("pd_rows"),
        lit(r("pd")._2).as("pd_hit"),
        lit(if (posUntouched) 1L else 0L).as("pd_prior_untouched"),
        lit(pdTomb.toLong).as("pd_tomb_files"),
        lit(pdOwnData.toLong).as("pd_own_data_files"),
        lit(r("cmp2")._1).as("compact2_rows"),
        lit(cmp2Tomb.toLong).as("compact2_tomb_files"),
        lit(r("pv1")._1).as("p_v1_rows"),
        lit(r("p2")._1).as("p_v2_rows"),
        lit(r("p2")._2).as("p_region2_rows"),
        lit(r("pts")._1).as("p_ts_rows"),
        lit(if (pHidden) 1L else 0L).as("p_hidden"),
        lit(rbV.toLong).as("rb_version"),
        lit(r("rb")._1).as("rb_rows"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** Driver-visible gate over the INCREMENTAL CHANGELOG surface
    * ([[readChanges]]) — split out of [[snapshotGate]] (its 2× growth
    * was making per-gate bench wall time unattributable): rebuilds
    * the same commit → append → CoW merge → MoR delete → compact →
    * positional delete → compact chain, then reduces each version
    * range's changelog to constants — inserts in `a`, deletes in `b`;
    * a compact commit must net to ZERO events, and the cumulative
    * (1, 7] range nets carried rows. Chain actions are the cost;
    * every readChanges leg is O(changed files + tombstone keys). */
  def changelogGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-changelog-gate")
    try {
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val t = work.resolve("tbl").toString
      commit(region.filter(col("r_regionkey") < 3).repartition(3), t)
      append(region.filter(col("r_regionkey") >= 3), t)
      upsert(s, t, region.filter(col("r_regionkey") === 0)
        .withColumn("r_name", lit("REWRITTEN")), "r_regionkey")
      import s.implicits._
      deleteRows(s, t, Seq(1).toDF("r_regionkey"))
      compact(s, t)
      deleteWhere(s, t, col("r_regionkey") >= 3)
      compact(s, t)
      val cIns = coalesce(sum(when(
        col(ChangeTypeCol) === "insert", 1L).otherwise(0L)), lit(0L))
      val cDel = coalesce(sum(when(
        col(ChangeTypeCol) === "delete", 1L).otherwise(0L)), lit(0L))
      def probe(tag: String, df: DataFrame): DataFrame =
        df.agg(cIns.cast("long").as("a"), cDel.cast("long").as("b"))
          .select(lit(tag).as("t"), col("a"), col("b"))
      // ONE batched action for every changelog probe
      val r = Seq(
        probe("c12", readChanges(s, t, 1, 2)),
        probe("c23", readChanges(s, t, 2, 3)),
        probe("c34", readChanges(s, t, 3, 4)),
        probe("c45", readChanges(s, t, 4, 5)),
        probe("c56", readChanges(s, t, 5, 6)),
        probe("c17", readChanges(s, t, 1, 7)))
        .reduce(_.unionByName(_)).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
      s.range(1).select(
        lit(r("c12")._1).as("chg_append_ins"),
        lit(r("c23")._1).as("chg_merge_ins"),
        lit(r("c23")._2).as("chg_merge_del"),
        lit(r("c34")._2).as("chg_mor_del"),
        lit(r("c45")._1 + r("c45")._2).as("chg_compact_events"),
        lit(r("c56")._2).as("chg_pd_del"),
        lit(r("c17")._1).as("chg_all_ins"),
        lit(r("c17")._2).as("chg_all_del"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** Driver-visible gate over DDL-DECLARED PARTITIONING — the
    * reference's own CREATE TABLE shape (csv_to_ice.py:54
    * `PARTITIONED BY (pickup_date)`) plus partition-spec EVOLUTION and
    * the `.partitions` metadata table: CREATE TABLE … PARTITIONED BY
    * records the default spec on the empty v1; a plain SQL INSERT
    * inherits it (5 hive region directories, hidden from the read
    * schema); readWhere prunes on the source column; `.partitions`
    * rolls the layout up to (value, files, rows, bytes) agreeing with
    * the `.files` inventory; `set_spec` evolves the default to a
    * bucket transform (old files keep their layout, the next insert
    * adopts the new) and `none` clears it. All reduced to constants
    * the oracle states literally. */
  def ddlPartitionGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-ddl-part")
    try {
      Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
        .createOrReplaceTempView("q45_nation_src")
      val t = work.resolve("tbl").toString
      val g = s"graft.`$t`"
      s.sql(s"CREATE TABLE $g (n_nationkey INT, n_regionkey INT, " +
        "n_name STRING) PARTITIONED BY (n_regionkey)") // identity, v1
      val specOk = currentTransform(s, t)
        .contains(Transform.Identity("n_regionkey"))
      s.sql(s"INSERT INTO $g SELECT n_nationkey, n_regionkey, n_name " +
        "FROM q45_nation_src") // v2, inherits the declared layout
      val partDirs = new java.io.File(s"$t/v=2").listFiles().toSeq
        .count(f => f.isDirectory &&
          f.getName.startsWith(s"${TransformPrefix}id_n_regionkey="))
      val hidden = read(s, t).columns
        .forall(!_.startsWith(TransformPrefix))
      val rw = readWhere(s, t, "n_regionkey", 2, 2)
      // inputFiles reports the PRE-pruning listing for hive partition
      // pruning (a plan-time optimization), so assert the hidden
      // partition predicate reached the scan instead — the actual
      // file-count reduction is measured via scan metrics in
      // DdlPartitionSpec
      val rwPruned = rw.queryExecution.executedPlan.toString
        .contains(s"${TransformPrefix}id_n_regionkey")
      // the .partitions rollup vs the .files inventory, pinned at v2
      val pm = s.sql(s"SELECT count(*), sum(row_count), " +
        s"sum(file_count), sum(total_bytes) " +
        s"FROM $g.partitions VERSION AS OF 2 " +
        "WHERE partition IS NOT NULL").head()
      val dataBytes = files(s, t, Some(2))
        .filter(col("kind") === "data")
        .agg(sum("size_bytes")).head().getLong(0)
      // the FULL rollup (incl. the empty CREATE's 0-row schema file
      // under the NULL partition) must account for every data byte
      // the .files inventory reports
      val pmAllBytes = s.sql(s"SELECT sum(total_bytes) " +
        s"FROM $g.partitions VERSION AS OF 2").head().getLong(0)
      // spec evolution: future writes bucket, old files keep days
      val evoV = setSpec(s, t, Some(Transform.Bucket(5, "n_nationkey")))
      s.sql(s"INSERT INTO $g SELECT n_nationkey + 100, n_regionkey, " +
        "concat('EVO_', n_name) FROM q45_nation_src " +
        "WHERE n_nationkey < 5") // v4, bucket-partitioned
      val v4 = currentVersion(s, t)
      val evoLayout = new java.io.File(s"$t/v=$v4").listFiles().toSeq
        .exists(f => f.isDirectory &&
          f.getName.startsWith(s"${TransformPrefix}bucket5_n_nationkey="))
      // pre-evolution identity pruning still holds on the OLD files
      // (mixed layouts in one table) and the new point prunes buckets
      val evoPoint = readWhere(s, t, "n_nationkey", 101, 101)
      // clear: the next insert goes unpartitioned (and does NOT
      // resurrect the identity spec deeper in the manifest)
      s.sql(s"CALL graft.system.set_spec(table => '$t', " +
        "spec => 'none')") // v5
      s.sql(s"INSERT INTO $g VALUES (999, 0, 'PLAIN')") // v6
      val v6 = currentVersion(s, t)
      val clearPlain = !new java.io.File(s"$t/v=$v6").listFiles().toSeq
        .exists(f => f.isDirectory &&
          f.getName.startsWith(TransformPrefix))
      // ONE batched action for the row-count probes
      def probe(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("a"))
          .select(lit(tag).as("t"), col("a"))
      val r = Seq(
        probe("ins", read(s, t, Some(2))),
        probe("rw", rw),
        probe("evo_point", evoPoint),
        probe("evo_total", read(s, t, Some(v4))),
        probe("fin", read(s, t)))
        .reduce(_.unionByName(_)).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      s.range(1).select(
        lit(if (specOk) 1L else 0L).as("ddl_spec_identity"),
        lit(r("ins")).as("ins_rows"),
        lit(partDirs.toLong).as("part_dirs"),
        lit(if (hidden) 1L else 0L).as("part_hidden"),
        lit(r("rw")).as("rw_rows"),
        lit(if (rwPruned) 1L else 0L).as("rw_pruned"),
        lit(pm.getLong(0)).as("pm_parts"),
        lit(pm.getLong(1)).as("pm_rows"),
        lit(if (pm.getLong(2) >= 5L) 1L else 0L).as("pm_files_ok"),
        lit(if (pmAllBytes == dataBytes) 1L else 0L)
          .as("pm_bytes_match"),
        lit(evoV.toLong).as("evo_version"),
        lit(if (evoLayout) 1L else 0L).as("evo_layout"),
        lit(r("evo_point")).as("evo_point_rows"),
        lit(r("evo_total")).as("evo_total_rows"),
        lit(if (clearPlain) 1L else 0L).as("clear_plain"),
        lit(r("fin")).as("final_rows"),
        lit(v6.toLong).as("final_version"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** Driver-visible gate over the SQL-EXTENSION DDL surface — the
    * Iceberg spellings the session parser adds (partition-spec
    * evolution, table properties, named refs, VACUUM), split from
    * [[ddlPartitionGate]] the way q44 split from q40: each gate's
    * bench wall time stays attributable to ONE protocol surface.
    * Builds a fresh region-backed table and reduces every behavior to
    * a constant the oracle states literally; like its siblings, the
    * gate's cost is its writes (~10 protocol commits). */
  def sqlDdlGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-sql-ddl")
    try {
      Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
        .createOrReplaceTempView("q46_region_src")
      val t = work.resolve("tbl").toString
      val g = s"graft.`$t`"
      // CREATE carries user TBLPROPERTIES into the _props sidecar
      s.sql(s"CREATE TABLE $g (r_regionkey INT, r_name STRING) " +
        "TBLPROPERTIES ('graft.owner' = 'gate')") // v1
      s.sql(s"INSERT INTO $g SELECT * FROM q46_region_src") // v2
      def prop(k: String, v: String) =
        s.sql(s"SHOW TBLPROPERTIES $g").collect()
          .exists(r => r.getString(0) == k && r.getString(1) == v)
      val propsCreate = prop("graft.owner", "gate")
      // partition-spec evolution through the DDL spellings: ADD
      // declares, the next insert adopts, REPLACE swaps, DROP clears
      s.sql(s"ALTER TABLE $g ADD PARTITION FIELD " +
        "bucket(3, r_regionkey)") // v3
      val ddlAdd = currentTransform(s, t)
        .contains(Transform.Bucket(3, "r_regionkey"))
      s.sql(s"INSERT INTO $g VALUES (100, 'DDL')") // v4
      val v4 = currentVersion(s, t)
      val ddlLayout = new java.io.File(s"$t/v=$v4").listFiles().toSeq
        .exists(f => f.isDirectory &&
          f.getName.startsWith(s"${TransformPrefix}bucket3_r_regionkey="))
      s.sql(s"ALTER TABLE $g REPLACE PARTITION FIELD " +
        "bucket(3, r_regionkey) WITH r_regionkey") // v5, identity
      val ddlReplace = currentTransform(s, t)
        .contains(Transform.Identity("r_regionkey"))
      s.sql(s"ALTER TABLE $g DROP PARTITION FIELD r_regionkey") // v6
      val ddlDrop = currentTransform(s, t).isEmpty
      // properties: SET merges (create's key survives), UNSET drops
      // exactly its keys
      s.sql(s"ALTER TABLE $g SET TBLPROPERTIES ('graft.tmp' = 'x')") // v7
      val propSet = prop("graft.tmp", "x") && prop("graft.owner", "gate")
      s.sql(s"ALTER TABLE $g UNSET TBLPROPERTIES ('graft.tmp')") // v8
      val propUnset = !prop("graft.tmp", "x") &&
        prop("graft.owner", "gate")
      // named refs through DDL: a tag pins v2 (5 rows); a branch
      // creates and drops cleanly
      s.sql(s"ALTER TABLE $g CREATE TAG gold AS OF VERSION 2")
      val tagRows = s.sql(
        s"SELECT count(*) FROM $g VERSION AS OF 'gold'").head().getLong(0)
      s.sql(s"ALTER TABLE $g CREATE BRANCH wip")
      val branchOk = branches(s, t).contains("wip")
      s.sql(s"ALTER TABLE $g DROP BRANCH wip")
      val branchGone = !branches(s, t).contains("wip")
      // VACUUM RETAIN keeps the newest 2 unpinned versions; the gold
      // tag pins v2 through it (8 versions -> {2, 7, 8})
      val retained = s.sql(s"VACUUM $g RETAIN 2 VERSIONS")
        .head().getInt(0)
      val finRows = s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      // write-order DDL on a second table (own version chain, so the
      // constants above stay untouched): declare, round-trip through
      // SHOW TBLPROPERTIES, verify the binpack writes files that are
      // INTERNALLY sorted by the declared order, then clear
      val t2 = work.resolve("tbl2").toString
      val g2 = s"graft.`$t2`"
      s.sql(s"CREATE TABLE $g2 (k INT, v STRING)")
      s.sql(s"INSERT INTO $g2 VALUES (5,'e'),(1,'a'),(3,'c')")
      s.sql(s"INSERT INTO $g2 VALUES (4,'d'),(2,'b'),(6,'f')")
      s.sql(s"ALTER TABLE $g2 WRITE ORDERED BY (k DESC)")
      val orderProp = s.sql(s"SHOW TBLPROPERTIES $g2").collect()
        .exists(r => r.getString(0) == WriteOrderProp &&
          r.getString(1) == "k desc")
      s.sql(s"CALL graft.system.compact(table => '$t2')")
      val v2n = currentVersion(s, t2)
      val packedFiles = new java.io.File(s"$t2/v=$v2n").listFiles().toSeq
        .filter(fl => fl.isFile && fl.getName.endsWith(".parquet"))
      val orderSorted = packedFiles.nonEmpty && packedFiles.forall { fl =>
        val ks = s.read.parquet(fl.getPath).select(col("k"))
          .collect().map(_.getInt(0)).toSeq
        ks == ks.sorted(Ordering[Int].reverse)
      }
      s.sql(s"ALTER TABLE $g2 WRITE UNORDERED")
      val orderCleared = !properties(s, t2).contains(WriteOrderProp)
      s.range(1).select(
        lit(if (propsCreate) 1L else 0L).as("props_create"),
        lit(if (ddlAdd) 1L else 0L).as("ddl_add_spec"),
        lit(if (ddlLayout) 1L else 0L).as("ddl_add_layout"),
        lit(if (ddlReplace) 1L else 0L).as("ddl_replace_spec"),
        lit(if (ddlDrop) 1L else 0L).as("ddl_drop_clear"),
        lit(if (propSet) 1L else 0L).as("props_set"),
        lit(if (propUnset) 1L else 0L).as("props_unset"),
        lit(tagRows).as("tag_rows"),
        lit(if (branchOk && branchGone) 1L else 0L).as("branch_cycle"),
        lit(retained.toLong).as("vacuum_retained"),
        lit(finRows).as("final_rows"),
        lit(currentVersion(s, t).toLong).as("final_version"),
        lit(if (orderProp) 1L else 0L).as("write_order_prop"),
        lit(if (orderSorted) 1L else 0L).as("write_order_sorted"),
        lit(if (orderCleared) 1L else 0L).as("write_order_cleared"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  // —— hidden partition transforms (Iceberg partition-spec analog) ——

  /** Reserved prefix for DERIVED partition columns. [[read]] hides any
    * column carrying it, so the transform stays out of the logical
    * schema; input frames must not use it. */
  val TransformPrefix = "gpart_"

  /** A partition TRANSFORM — Iceberg's hidden-partitioning answer to
    * the papercut the reference hand-codes (csv_to_ice.py:25 derives a
    * `day` string by hand and carries it as a real column): the table
    * declares `days(ts)` / `bucket(n, id)` / `truncate(w, s)` once, the
    * engine derives a HIDDEN hive partition column at write, hides it
    * from reads, and [[readWhere]] maps source-column ranges onto it so
    * partition pruning fires without the caller ever naming the derived
    * column. The spec (with its source dtype) persists per version in a
    * `_tspec` sidecar, so pruning works from the spec the data was
    * written under — a merge-rewritten directory without a spec simply
    * scans in full (degrade, never lie). */
  sealed trait Transform {
    def source: String
    /** hidden hive partition column this transform materializes */
    def partCol: String
    def render: String
    /** derived partition value for a row of `df` (dtype-aware) */
    private[sources] def writeExpr(df: DataFrame): Column
    /** partition-column predicate implied by source BETWEEN lo AND hi
      * (None when the transform cannot bound a range, e.g. bucket with
      * lo != hi). `dtype` is the source's catalog type AS WRITTEN — the
      * literals cast through it so e.g. bucket hashes agree. `zone` is
      * the WRITER's session time zone from the `_tspec` sidecar: the
      * calendar transforms derived their partition values under it, so
      * a reader in a different zone must evaluate the bounds there too
      * (and widen by one partition unit for DST-transition edges) or
      * partition pruning would silently drop in-range rows. None =
      * pre-zone sidecar: assume the reader's zone, the legacy
      * behavior. */
    private[sources] def rangePred(lo: Any, hi: Any,
        dtype: String, zone: Option[String] = None): Option[Column]
  }

  object Transform {
    /** The reader session's zone at predicate-build time. */
    private def sessionZone: String =
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

    /** The writer zone to evaluate a calendar transform's bounds
      * under, IF it differs from the reader's session zone (same zone
      * — including the legacy no-zone sidecar — needs no shift and no
      * widening). */
    private def crossZone(zone: Option[String]): Option[String] =
      zone.filter(_ != sessionZone)

    /** Shift instant `ts` so that rendering the result with the
      * READER-session-zoned calendar functions (to_date, date_format)
      * equals rendering the original instant in `z` — the wall-clock
      * the writer derived partition values under. Offsets are
      * evaluated at the instant itself, so inside a DST transition
      * the shift can be off by the transition amount; callers widen
      * their partition predicate by one unit to absorb it (the exact
      * row filter still applies after pruning — over-approximation is
      * free, under-approximation would lose rows). */
    private def inZone(ts: Column, z: String): Column =
      from_utc_timestamp(to_utc_timestamp(ts, current_timezone()), z)

    /** Calendar transforms partition TIME — a NUMERIC source would
      * silently cast through epoch seconds (every int lands in 1970)
      * instead of failing the declaration, the Iceberg refusal.
      * STRING sources stay legal: `'2024-06-01'`-style values parse
      * through the timestamp cast exactly as they always did (and
      * pre-existing `_tspec`s may ride string date columns), while an
      * unparseable string degrades to a NULL partition value, never a
      * wrong epoch. Checked in writeExpr so BOTH the DDL-time probe
      * and the commit path enforce it. */
    private def requireTemporal(df: DataFrame, source: String,
        render: String): Unit = {
      val dt = df.schema(source).dataType
      require(dt == DateType || dt == TimestampType ||
        dt == TimestampNTZType || dt == StringType,
        s"$render needs a DATE/TIMESTAMP (or date-string) source " +
          s"column, got ${dt.catalogString} — cast first, or use " +
          "bucket()/truncate() for non-temporal layouts")
    }

    /** Identity partitioning: `identity(col)` — the classic hive
      * layout (the reference's own DDL shape, csv_to_ice.py:54
      * `PARTITIONED BY (pickup_date)`), expressed through the hidden
      * machinery: the engine derives a hidden COPY of the column as
      * the hive partition column, so the source column stays a normal
      * data column in the files and the read schema, while
      * [[readWhere]] prunes directories on it. Timestamp sources are
      * refused — a timestamp renders into the partition PATH as a
      * session-zone local string, which a reader in another zone (or
      * hive type inference) reinterprets as a different instant; the
      * calendar transforms are the honest form for timestamps. The
      * partition-path value round-trips through hive type INFERENCE
      * (e.g. a numeric-looking string infers as int), so the pruning
      * predicate casts the partition column back through the WRITTEN
      * dtype before comparing. */
    case class Identity(source: String) extends Transform {
      val partCol = s"${TransformPrefix}id_$source"
      def render = s"identity($source)"
      private[sources] def writeExpr(df: DataFrame) = {
        val dt = df.schema(source).dataType
        require(dt != TimestampType && dt != TimestampNTZType,
          s"identity($source): timestamp partition values are " +
            "zone-ambiguous in partition paths — use days()/hours()")
        col(source)
      }
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) =
        Some(col(partCol).cast(dtype) >= lit(lo).cast(dtype) &&
          col(partCol).cast(dtype) <= lit(hi).cast(dtype))
    }

    /** Calendar-year partitioning: `years(ts)` -> `yyyy`. */
    case class Years(source: String) extends Transform {
      val partCol = s"${TransformPrefix}years_$source"
      def render = s"years($source)"
      private[sources] def writeExpr(df: DataFrame) = {
        requireTemporal(df, source, render)
        date_format(col(source).cast("timestamp"), "yyyy")
      }
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) = Some(crossZone(zone) match {
        case Some(z) =>
          // widen by a day before formatting: covers any DST-edge
          // shift error at year boundaries
          def y(v: Any, days: Int) = date_format(
            inZone(lit(v).cast("timestamp"), z) +
              expr(s"INTERVAL $days DAY"), "yyyy")
          col(partCol).cast("string") >= y(lo, -1) &&
            col(partCol).cast("string") <= y(hi, 1)
        case None =>
          // the 4-digit year infers as INT from the partition path —
          // compare as string on both sides (zero-padded, so string
          // order = time order)
          col(partCol).cast("string") >=
              date_format(lit(lo).cast("timestamp"), "yyyy") &&
            col(partCol).cast("string") <=
              date_format(lit(hi).cast("timestamp"), "yyyy")
      })
    }

    /** Calendar-day partitioning of a timestamp: `days(ts)`. */
    case class Days(source: String) extends Transform {
      val partCol = s"${TransformPrefix}days_$source"
      def render = s"days($source)"
      private[sources] def writeExpr(df: DataFrame) = {
        requireTemporal(df, source, render)
        to_date(col(source).cast("timestamp"))
      }
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) = Some(crossZone(zone) match {
        case Some(z) =>
          def d(v: Any) = to_date(inZone(lit(v).cast("timestamp"), z))
          col(partCol) >= date_sub(d(lo), 1) &&
            col(partCol) <= date_add(d(hi), 1)
        case None =>
          col(partCol) >= to_date(lit(lo).cast("timestamp")) &&
            col(partCol) <= to_date(lit(hi).cast("timestamp"))
      })
    }

    /** Calendar-month partitioning: `months(ts)` -> `yyyy-MM` (string
      * order = time order). */
    case class Months(source: String) extends Transform {
      val partCol = s"${TransformPrefix}months_$source"
      def render = s"months($source)"
      private[sources] def writeExpr(df: DataFrame) = {
        requireTemporal(df, source, render)
        date_format(col(source).cast("timestamp"), "yyyy-MM")
      }
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) = Some(crossZone(zone) match {
        case Some(z) =>
          // widen by a day before formatting: covers any DST-edge
          // shift error at month boundaries
          def m(v: Any, days: Int) = date_format(
            inZone(lit(v).cast("timestamp"), z) +
              expr(s"INTERVAL $days DAY"), "yyyy-MM")
          col(partCol) >= m(lo, -1) && col(partCol) <= m(hi, 1)
        case None =>
          col(partCol) >=
              date_format(lit(lo).cast("timestamp"), "yyyy-MM") &&
            col(partCol) <=
              date_format(lit(hi).cast("timestamp"), "yyyy-MM")
      })
    }

    /** Hour partitioning: `hours(ts)` -> `yyyy-MM-dd-HH`. */
    case class Hours(source: String) extends Transform {
      val partCol = s"${TransformPrefix}hours_$source"
      def render = s"hours($source)"
      private[sources] def writeExpr(df: DataFrame) = {
        requireTemporal(df, source, render)
        date_format(col(source).cast("timestamp"), "yyyy-MM-dd-HH")
      }
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) = Some(crossZone(zone) match {
        case Some(z) =>
          def h(v: Any, hours: Int) = date_format(
            inZone(lit(v).cast("timestamp"), z) +
              expr(s"INTERVAL $hours HOUR"), "yyyy-MM-dd-HH")
          col(partCol) >= h(lo, -1) && col(partCol) <= h(hi, 1)
        case None =>
          col(partCol) >=
              date_format(lit(lo).cast("timestamp"), "yyyy-MM-dd-HH") &&
            col(partCol) <=
              date_format(lit(hi).cast("timestamp"), "yyyy-MM-dd-HH")
      })
    }

    /** Hash-bucket partitioning: `bucket(n, col)`. Point lookups
      * (lo == hi) prune to one bucket; ranges cannot. The literal casts
      * through the WRITTEN dtype so the Murmur3 hash agrees with the
      * write side (hash(1) as int and as bigint differ). */
    case class Bucket(n: Int, source: String) extends Transform {
      require(n > 0, s"bucket($n, $source): n must be positive")
      val partCol = s"${TransformPrefix}bucket${n}_$source"
      def render = s"bucket($n,$source)"
      private[sources] def writeExpr(df: DataFrame) =
        pmod(hash(col(source)), lit(n))
      // instants (and every other dtype here) hash zone-independently,
      // so no writer-zone handling is needed
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) =
        if (lo == hi)
          Some(col(partCol) === pmod(hash(lit(lo).cast(dtype)), lit(n)))
        else None
    }

    /** Width-truncation partitioning: `truncate(w, col)` — leading `w`
      * chars for strings, floor-to-multiple-of-`w` for numerics (both
      * monotonic, so ranges map to partition ranges). */
    case class Truncate(w: Int, source: String) extends Transform {
      require(w > 0, s"truncate($w, $source): width must be positive")
      val partCol = s"${TransformPrefix}trunc${w}_$source"
      def render = s"truncate($w,$source)"
      private def isString(dt: String) = dt == "string"
      private[sources] def writeExpr(df: DataFrame) =
        if (isString(df.schema(source).dataType.catalogString))
          substring(col(source), 1, w)
        else col(source) - pmod(col(source), lit(w))
      private[sources] def rangePred(lo: Any, hi: Any, dtype: String,
          zone: Option[String]) =
        if (isString(dtype))
          Some(col(partCol) >= substring(lit(lo), 1, w) &&
            col(partCol) <= substring(lit(hi), 1, w))
        else {
          def t(v: Any) = {
            val c = lit(v).cast(dtype)
            c - pmod(c, lit(w))
          }
          Some(col(partCol) >= t(lo) && col(partCol) <= t(hi))
        }
    }

    private val IdentityRe = """identity\((\w+)\)""".r
    private val YearsRe = """years\((\w+)\)""".r
    private val DaysRe = """days\((\w+)\)""".r
    private val MonthsRe = """months\((\w+)\)""".r
    private val HoursRe = """hours\((\w+)\)""".r
    private val BucketRe = """bucket\((\d+),(\w+)\)""".r
    private val TruncRe = """truncate\((\d+),(\w+)\)""".r

    def parse(s: String): Transform = s match {
      case IdentityRe(c) => Identity(c)
      case YearsRe(c) => Years(c)
      case DaysRe(c) => Days(c)
      case MonthsRe(c) => Months(c)
      case HoursRe(c) => Hours(c)
      case BucketRe(n, c) => Bucket(n.toInt, c)
      case TruncRe(w, c) => Truncate(w.toInt, c)
      case other =>
        throw new IllegalArgumentException(s"unknown transform '$other'")
    }
  }

  /** The hidden-transform spec of the table's NEWEST partitioned
    * write, if any — the spec catalog writes, row-level DML, and CALL
    * maintenance INHERIT so SQL-driven appends and rewrites keep the
    * table's layout (the Iceberg table-level partition-spec analog:
    * partitioning here is a per-write property, so the newest
    * `_tspec` IS the table's current spec). Callers drop it when the
    * transform's source column is absent from what they write. */
  /** Memo for [[currentTransform]]: the answer is a pure function of
    * the (immutable) version's manifest + sidecars, and inheritance
    * consults it on EVERY bare append/INSERT — without the memo a
    * per-micro-batch streaming append pays a manifest walk plus (for
    * spec'd tables) a full read-plan construction per trigger. Keyed
    * by the version's owner-token epoch like [[schemaMemo]], so a
    * table dropped and recreated at the same path misses instead of
    * reviving the old table's spec; epoch "?" skips the memo. */
  private val transformMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Transform]]()

  def currentTransform(spark: SparkSession,
      tableDir: String): Option[Transform] = {
    val cur = Try(currentVersion(spark, tableDir)).getOrElse(0)
    if (cur == 0) return None
    val f = fs(spark, tableDir)
    val epoch = ownerEpoch(f, tableDir, s"v=$cur")
    val key =
      if (epoch == "?") null
      else tableDir + "\u0000" + cur + "\u0000" + epoch
    if (key != null) {
      val hit = transformMemo.get(key)
      if (hit != null) return hit
    }
    val result = currentTransformUncached(spark, f, tableDir, cur)
    if (key != null) {
      if (transformMemo.size > 10000) transformMemo.clear()
      transformMemo.put(key, result)
    }
    result
  }

  private def currentTransformUncached(spark: SparkSession,
      f: FileSystem, tableDir: String, cur: Int): Option[Transform] = {
    manifestDirs(f, tableDir, cur).map(_.split("/").head).distinct
      .sortBy(v => -entryVer(v))
      .iterator.flatMap { vr =>
        tspecContent(f, tableDir, vr).flatMap { text =>
          // the newest dir RECORDING a spec decision wins: a real spec
          // is inherited, the explicit `none` sentinel ([[setSpec]]'s
          // clear) STOPS the walk — later writes go unpartitioned
          // instead of resurrecting an older spec. Unparseable/foreign
          // sidecars keep walking (degrade, never lie).
          if (text.trim == TspecNone) Some(None)
          else parseTspecText(text).map(p => Some(p._1))
        }
      }
      .nextOption().flatten
      // a spec whose source column has since been DROPPED is inert —
      // inheriting it would fail the write on a missing column
      .filter(t =>
        read(spark, tableDir, Some(cur)).columns.contains(t.source))
  }

  /** Declare the table's DEFAULT partition spec going forward — the
    * Iceberg partition-spec-evolution analog (`ALTER TABLE … ADD/DROP
    * PARTITION FIELD`, surfaced in SQL as `CALL graft.system
    * .set_spec`): one metadata-only commit whose payload is the new
    * spec. Files already written keep the layout (and the pruning)
    * they were committed under — the engine's per-version `_tspec`
    * already supports mixed layouts in one table — while every FUTURE
    * commit/INSERT without an explicit transform inherits the new
    * spec via [[currentTransform]]. `None` CLEARS the spec (the
    * sentinel sidecar): later writes go unpartitioned rather than
    * resurrecting an older spec from deeper in the manifest. */
  /** Pin fragments (`key=vN`) in version `cur`'s note that
    * `callerNote` does not itself re-pin. Every maintenance/metadata
    * rewrite prepends these to its own note — compaction, z-order,
    * delete-absorption, spec changes, property edits — so none of
    * them can BURY an incremental consumer's cursor (a materialized
    * view's `src=vN`, an index pair's `sigs=vN`): the rewritten
    * snapshot holds the same rows, so the carried pin stays true,
    * while a buried one makes the next refresh/probe refuse on a
    * perfectly healthy table. Matched FRAGMENT-WISE with notePin's
    * grammar, never by substring. */
  private def carriedPins(spark: SparkSession, tableDir: String,
      cur: Int, callerNote: String): Seq[String] = {
    val pins = commitNotes(spark, tableDir).get(cur).toSeq
      .flatMap(_.split(";")).map(_.trim)
      .filter(_.matches("[A-Za-z_]+=v[0-9]+"))
    val callerPinKeys = callerNote.split(";").map(_.trim)
      .filter(_.matches("[A-Za-z_]+=v[0-9]+"))
      .map(_.takeWhile(_ != '=')).toSet
    pins.filterNot(p => callerPinKeys.contains(p.takeWhile(_ != '=')))
  }

  /** `note` with version `cur`'s carried pins prepended — the form
    * every maintenance commit passes ([[carriedPins]]). */
  private def noteWithPins(spark: SparkSession, tableDir: String,
      cur: Int, note: Option[String]): Option[String] = {
    val keep = carriedPins(spark, tableDir, cur, note.getOrElse(""))
    if (keep.isEmpty) note
    else Some((keep ++ note.toSeq).mkString(";"))
  }

  def setSpec(spark: SparkSession, tableDir: String,
      spec: Option[Transform], note: Option[String] = None,
      branch: Option[String] = None): Int = withCommitRetry() {
    val cur = branch.map(b => branchHead(spark, tableDir, b))
      .getOrElse(currentVersion(spark, tableDir))
    require(cur > 0, s"no committed version at $tableDir")
    val snap = read(spark, tableDir, Some(cur))
    spec.foreach { t =>
      require(snap.columns.contains(t.source),
        s"partition spec source column '${t.source}' not in table at " +
          s"$tableDir (columns: ${snap.columns.mkString(", ")})")
      // surface identity-on-timestamp (and any other write-time
      // refusal) NOW, not on the first post-evolution insert
      t.writeExpr(snap)
    }
    commitStaged(snap.limit(0), tableDir, partitionCol = None,
      note = noteWithPins(spark, tableDir, cur, note.orElse(Some(
        s"SET PARTITION SPEC ${spec.map(_.render)
          .getOrElse(TspecNone)}"))),
      statsCols = Nil, linkBase = Some(cur), transform = spec,
      clearSpec = spec.isEmpty, branch = branch)
  }

  private val PropsFile = "_props"

  /** Current TABLE PROPERTIES — the Iceberg table-property surface
    * (`ALTER TABLE … SET/UNSET TBLPROPERTIES`, `SHOW TBLPROPERTIES`):
    * the newest linked version root carrying a `_props` sidecar holds
    * the FULL map (each [[setProperties]] commit snapshots the merged
    * state, so the walk stops at the first hit — no merge across
    * versions, no resurrection of unset keys). Unreadable sidecars
    * keep walking: degrade to older state, never fail the read. */
  // observability seam for the idle-tick contract: an idle follower
  // tick on a fresh chain must cost pin/head probes only — the spec
  // asserts this counter does not move across one
  private[graft] val propReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  def properties(spark: SparkSession,
      tableDir: String): Map[String, String] = {
    propReads.incrementAndGet()
    val cur = Try(currentVersion(spark, tableDir)).getOrElse(0)
    if (cur == 0) return Map.empty
    val f = fs(spark, tableDir)
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    manifestDirs(f, tableDir, cur).map(_.split("/").head).distinct
      .sortBy(v => -entryVer(v))
      .iterator.flatMap { vr =>
        val p = new Path(new Path(tableDir, vr), PropsFile)
        if (!f.exists(p)) None
        else Try {
          val in = f.open(p)
          val text = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
          text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
            val Array(k, v) = line.split("\t", 2)
            dec(k) -> dec(v)
          }.toMap
        }.toOption
      }.nextOption().getOrElse(Map.empty)
  }

  /** Merge `set` into (and drop `unset` from) the table's properties
    * as ONE metadata-only commit — the `ALTER TABLE SET/UNSET
    * TBLPROPERTIES` engine primitive. Returns the published version. */
  def setProperties(spark: SparkSession, tableDir: String,
      set: Map[String, String] = Map.empty,
      unset: Seq[String] = Nil,
      note: Option[String] = None): Int = withCommitRetry() {
    val cur = currentVersion(spark, tableDir)
    require(cur > 0, s"no committed version at $tableDir")
    require(set.nonEmpty || unset.nonEmpty, "nothing to change")
    val merged = (properties(spark, tableDir) ++ set) -- unset
    // incremental consumers keep their cursors in the head commit's
    // note (`src=vN` for materialized views, `sigs=vN`/`stats=vN` for
    // the index pairs): a metadata-only properties commit must CARRY
    // those pin fragments forward or it buries the pin and the next
    // refresh/probe refuses on a perfectly healthy table
    val noteText = note.getOrElse(
      s"SET TBLPROPERTIES (${set.keys.toSeq.sorted
        .mkString(", ")})${if (unset.nonEmpty)
          s" UNSET (${unset.sorted.mkString(", ")})" else ""}")
    // carried pins whose key the caller's own note already pins
    // defer to the caller — see [[carriedPins]]
    val keep = carriedPins(spark, tableDir, cur, noteText)
    commitStaged(read(spark, tableDir, Some(cur)).limit(0), tableDir,
      partitionCol = None,
      note = Some((keep :+ noteText).mkString(";")),
      statsCols = Nil, linkBase = Some(cur),
      transform = currentTransform(spark, tableDir),
      props = Some(merged))
  }

  /** The table's target output-file size: the Iceberg
    * `write.target-file-size-bytes` property, or the 128 MB default —
    * what maintenance rewrites size their file counts from when the
    * caller does not say otherwise. */
  def targetFileBytes(spark: SparkSession, tableDir: String): Long =
    properties(spark, tableDir).get("write.target-file-size-bytes")
      .flatMap(v => Try(v.trim.toLong).toOption).filter(_ > 0)
      .getOrElse(128L * 1024 * 1024)

  /** Property key of the declared write sort order — the Iceberg
    * `write.sort-order` analog, set by `ALTER TABLE … WRITE ORDERED
    * BY` ([[graft.plans.WriteOrderDdl]]) and honored by the
    * maintenance rewrites. Value format: comma-separated columns with
    * an optional `desc` (`"l_shipdate"`, `"src,score desc"`). */
  val WriteOrderProp = "write.sort-order"

  /** Parse a [[WriteOrderProp]] value into (column, descending)
    * pairs. Loud on malformation — a silently ignored order is a
    * silently unsorted table. */
  private[graft] def parseWriteOrder(v: String): Seq[(String, Boolean)] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      t.split("\\s+").toSeq match {
        case Seq(c) => (c, false)
        case Seq(c, dir) if dir.equalsIgnoreCase("asc") => (c, false)
        case Seq(c, dir) if dir.equalsIgnoreCase("desc") => (c, true)
        case _ => throw new IllegalArgumentException(
          s"malformed $WriteOrderProp entry '$t' (want `col [asc|desc]`)")
      }
    }

  /** The table's declared write sort order, empty when unset. */
  def writeOrder(spark: SparkSession,
      tableDir: String): Seq[(String, Boolean)] =
    properties(spark, tableDir).get(WriteOrderProp).toSeq
      .flatMap(parseWriteOrder)

  /** Apply the declared write order as a LOCAL sort (per output task,
    * hence per file — Iceberg write.sort-order semantics: files are
    * internally ordered for range-scan/compression locality without
    * paying a global exchange). Columns dropped by schema evolution
    * are skipped — degrade to the remaining prefix, never fail a
    * write. Declared names resolve against the frame with the
    * session's case sensitivity (a raw `SET TBLPROPERTIES` value in a
    * different case must still sort — the silently-unsorted table is
    * the one outcome this property must never produce). On a
    * PARTITIONED write the partition column leads the sort keys:
    * FileFormatWriter requires rows sorted by partition columns and
    * injects its own local sort when the child's ordering doesn't
    * satisfy it — an injected sort keyed only on the partition column
    * does not guarantee tie order across spill-file merges, which
    * would silently void the declared order inside each partition
    * directory. Leading with the partition column makes the child's
    * ordering satisfy the writer's requirement, so no re-sort is
    * injected and the per-file order survives. */
  /** Resolve a declared (property-sourced) column name against a
    * frame under the SESSION's case sensitivity — exact match first,
    * then (case-insensitive analysis only) a unique ignore-case
    * match; absent or ambiguous degrades to None, never a guess.
    * Shared by the write-order and distribution-mode appliers so the
    * two can never key on different columns for one declared name. */
  private def resolveDeclared(df: DataFrame, c: String): Option[String] = {
    val ci = !df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    df.columns.find(_ == c).orElse {
      if (!ci) None
      else df.columns.filter(_.equalsIgnoreCase(c)) match {
        case Array(one) => Some(one)
        case _ => None
      }
    }
  }

  private def applyWriteOrderFrom(p: Map[String, String],
      df: DataFrame, partBy: Option[String] = None): DataFrame = {
    def resolve(c: String): Option[String] = resolveDeclared(df, c)
    val order = p.get(WriteOrderProp).toSeq.flatMap(parseWriteOrder)
      .flatMap { case (c, desc) => resolve(c).map((_, desc)) }
    if (order.isEmpty) df
    else {
      // The writer's required ordering for a partitioned write is
      // (partition col ASC) as a PREFIX — satisfy it exactly, or
      // FileFormatWriter injects its own partition-only sort whose
      // tie order is not guaranteed across spill merges (a silently
      // unsorted table). So the partition column goes FIRST ascending
      // regardless of where (or in which direction) the declared
      // order mentions it: within one output file the partition value
      // is constant, so dropping it from the declared tail changes
      // nothing per-file.
      val pc = partBy.flatMap(resolve)
      val tail = order.filterNot { case (c, _) => pc.contains(c) }
      df.sortWithinPartitions(
        (pc.map(col(_).asc).toSeq ++
          tail.map { case (c, desc) =>
            if (desc) col(c).desc else col(c).asc }): _*)
    }
  }

  /** `write.distribution-mode` — Iceberg's shuffle-before-write knob,
    * the small-files control that matters MOST at cluster scale: a
    * partitioned append from T tasks otherwise writes up to T files
    * per partition value (10^6 files from a 1000-task write over a
    * 1000-value column). `none` (default) writes as-is; `hash`
    * clusters rows by the partition expression so each value lands in
    * ONE task (Iceberg's default for partitioned writes — skewed
    * values concentrate, which is the documented trade); `range`
    * range-partitions by (partition expr, declared write order), so
    * file count stays proportional to data volume AND a hot partition
    * value can still split across tasks along the sort dimension. */
  val DistributionModeProp = "write.distribution-mode"

  private def applyDistribution(p: Map[String, String],
      df: DataFrame, partBy: Option[String]): DataFrame = {
    val mode = p.getOrElse(DistributionModeProp, "none")
      .trim.toLowerCase(java.util.Locale.ROOT)
    require(mode == "none" || mode == "hash" || mode == "range",
      s"$DistributionModeProp must be none|hash|range, got '$mode'")
    lazy val orderCols = p.get(WriteOrderProp).toSeq
      .flatMap(parseWriteOrder)
      .flatMap { case (c, _) => resolveDeclared(df, c) }
      .map(col)
    mode match {
      case "none" => df
      case "hash" =>
        partBy.fold(df)(pc => df.repartition(col(pc)))
      case "range" =>
        val keys = partBy.map(col).toSeq ++ orderCols
        if (keys.isEmpty) df else df.repartitionByRange(keys: _*)
    }
  }

  /** Property-key prefix enabling a parquet footer BLOOM FILTER for a
    * column on every subsequent data write (value `true`) — the
    * Iceberg spelling. Companion knobs: the per-column fpp prefix and
    * the global size cap. */
  val BloomPropPrefix = "write.parquet.bloom-filter-enabled.column."
  val BloomFppPrefix = "write.parquet.bloom-filter-fpp.column."
  val BloomMaxBytesProp = "write.parquet.bloom-filter-max-bytes"

  /** Iceberg's codec property: every data file written while it is
    * set uses this parquet compression — the storage/scan-bandwidth
    * dial (zstd ~30% smaller than snappy at similar scan cost).
    * Appends and rewrites inherit it like every write-time property,
    * so a `SET TBLPROPERTIES` + `compact()` re-encodes a table. */
  val CompressionProp = "write.parquet.compression-codec"
  private val ValidCodecs =
    Set("uncompressed", "snappy", "gzip", "zstd", "lz4")

  private def compressionOptions(p: Map[String, String])
      : Map[String, String] =
    p.get(CompressionProp)
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)).map { c =>
      require(ValidCodecs(c), s"$CompressionProp: unknown codec '$c' " +
        s"(valid: ${ValidCodecs.toSeq.sorted.mkString(", ")})")
      Map("compression" -> c)
    }.getOrElse(Map.empty)

  /** Writer options for the declared bloom-filter properties, mapped
    * onto parquet-mr's own knobs (`parquet.bloom.filter.enabled#col`).
    * Empty when nothing is declared — the common write pays nothing. */
  private def bloomWriteOptions(p: Map[String, String])
      : Map[String, String] = {
    val cols = p.collect {
      case (k, v) if k.startsWith(BloomPropPrefix) &&
        v.trim.equalsIgnoreCase("true") => k.stripPrefix(BloomPropPrefix)
    }
    if (cols.isEmpty) Map.empty
    else cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap ++
      p.collect { case (k, v) if k.startsWith(BloomFppPrefix) =>
        s"parquet.bloom.filter.fpp#${k.stripPrefix(BloomFppPrefix)}" -> v } ++
      p.get(BloomMaxBytesProp)
        .map(v => "parquet.bloom.filter.max.bytes" -> v)
  }

  private val TspecFile = "_tspec"

  /** Sentinel `_tspec` content recording "explicitly unpartitioned". */
  private val TspecNone = "none"

  private def writeTspec(f: FileSystem, stage: Path, t: Transform,
      dtype: String, zone: String): Unit = {
    // the writer's session zone rides along: the calendar transforms
    // derived their partition values under it, and a reader in a
    // different zone must evaluate pruning bounds there (see
    // [[Transform.rangePred]]) — without it a zone-flipped reader
    // silently pruned files containing in-range rows
    FsFast.put(f, new Path(stage, TspecFile),
      s"${t.render}\t$dtype\t$zone".getBytes("UTF-8"),
      overwrite = false)
  }

  /** Raw `_tspec` sidecar content of a version directory, if any. */
  private def tspecContent(f: FileSystem, tableDir: String,
      vroot: String): Option[String] = {
    val p = new Path(new Path(tableDir, vroot), TspecFile)
    if (!f.exists(p)) None
    else Try {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.toOption
  }

  /** Parse a `_tspec` sidecar body. ANY unreadable/unparseable spec
    * (including the [[TspecNone]] sentinel) returns None — pruning
    * degrades to full scans; a stale or foreign format must never
    * fail the read path. */
  private def parseTspecText(text: String)
      : Option[(Transform, String, Option[String])] =
    text.split("\t") match {
      case Array(render, dtype) =>
        Try(Transform.parse(render)).toOption.map((_, dtype, None))
      case Array(render, dtype, zone) =>
        Try(Transform.parse(render)).toOption
          .map((_, dtype, Some(zone)))
      case _ => None
    }

  /** The transform a version directory was written under, if any,
    * with its source dtype and (format v3) the writer's session
    * zone. A two-field legacy spec parses with zone None — pruning
    * then assumes the reader's zone, the legacy behavior. */
  private def readTspec(f: FileSystem, tableDir: String, vroot: String)
      : Option[(Transform, String, Option[String])] =
    tspecContent(f, tableDir, vroot).flatMap(parseTspecText)

  /** Drop hidden transform-derived partition columns from a frame. */
  private def hideDerived(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith(TransformPrefix)).toSeq: _*)

  // —— manifest-level file statistics (commit-time sidecar) ——

  /** Types whose (min, max) round-trip through the stats sidecar
    * independent of session configuration. Session-zoned timestamps are
    * stored as EPOCH MICROS (a string cast renders local time, so a
    * reader under a different `spark.sql.session.timeZone` — or a
    * DST-ambiguous local instant — would decode shifted bounds and
    * prune files that contain in-range rows). Binary and nested types
    * are lossy through a string cast and are rejected at commit. */
  private def statsRoundTrips(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | BooleanType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Harvest per-file (min, max) for `statsCols` from the freshly
    * written staging directory into a `_stats.tsv` sidecar — one extra
    * Spark scan of the DELTA for the harvest (Iceberg collects the
    * same stats from the writers), then a DRIVER-side metadata write,
    * the way Iceberg writes its manifests: stats are files×cols rows,
    * and paying a Spark job to serialize (and another to deserialize
    * at read) rows that are already on the driver was pure action-floor
    * tax. File paths are stored stage-relative so the rename to `v=N`
    * keeps them valid; values are stored URL-encoded (tab/newline-safe,
    * `\N` = null) as strings next to their catalog type and cast back
    * for pruning comparisons (timestamps as TZ-independent epoch
    * micros, see [[statsRoundTrips]]). */
  /** The stage's freshly written DATA files (absolute path strings).
    * Everything under the stage's `_stats`, `_deletes` and
    * `_posdeletes` subtrees is not data, matched by stage-relative
    * prefix, and neither is any path with a `_temporary` segment: the
    * tombstone writes run concurrently with the stats harvest and the
    * emptiness probe that list the stage ([[commitStaged]]), and their
    * in-flight part files sit under `_deletes/_temporary/…/attempt_*`,
    * where a parent-name test cannot see the tombstone dir. The walk
    * never descends into those subtrees. */
  private def stagedDataFiles(f: FileSystem, stage: Path): Seq[String] =
    FsFast.walkFiles(f, stage, skipDir = rel => {
      val segs = rel.split("/")
      NonDataStageDirs.contains(segs.head) || segs.contains("_temporary")
    }).collect {
      case e if e.name.endsWith(".parquet") => e.path.toString
    }

  private val NonDataStageDirs = Set(StatsDir, DeletesDir, PosDeletesDir)

  private def writeStats(spark: SparkSession, f: FileSystem,
      stage: Path, statsCols: Seq[String]): Unit = {
    val rows = statRowsFor(spark, f, stage, statsCols)
    if (rows.nonEmpty) writeStatsTsv(f, stage, rows)
  }

  /** Harvest per-file (min, max, counts) rows for `statsCols` from a
    * version root (or staging dir) — the Spark-scan leg of
    * [[writeStats]], also reused by [[collectStats]]' backfill. */
  private def statRowsFor(spark: SparkSession, f: FileSystem,
      stage: Path, statsCols: Seq[String]): Seq[StatRow] = {
    // scan by explicit file paths under a basePath: the dot-hidden
    // stage dir as a scan root logs a spurious "All paths were
    // ignored" WARN (hidden-path filter), and an EMPTY stage (a merge
    // that deleted every rewritten row) must no-op, not fail schema
    // inference
    val dataFiles = stagedDataFiles(f, stage)
    if (dataFiles.isEmpty) return Nil
    // FOOTER fast path: the freshly written chunks' own statistics
    // carry (min, max, null count) for the common stats types —
    // int/bigint/string/timestamp-micros, whose footer values render
    // byte-identically to Spark's cast-to-string (and whose parquet
    // sort orders match Spark's: unsigned bytes for UTF8) — so the
    // sidecar costs O(delta files) driver footer reads instead of a
    // whole extra Spark job per commit. Any missing column, other
    // type, or incomplete chunk stats falls back to the scan below;
    // degrade to the engine's own semantics, never guess.
    footerStatRows(spark, f, stage, dataFiles, statsCols)
      .foreach(rows => return rows)
    val data = spark.read.option("basePath", stage.toString)
      .parquet(dataFiles: _*)
    val present = statsCols.filter(data.columns.contains)
    if (present.isEmpty) return Nil
    present.foreach { c =>
      val dt = data.schema(c).dataType
      require(statsRoundTrips(dt), s"statsCols column '$c' has type " +
        s"${dt.catalogString}, whose stats do not round-trip " +
        "session-independently (supported: numeric, string, boolean, " +
        "date, timestamp, timestamp_ntz)")
    }
    def enc(c: String)(v: Column): Column = data.schema(c).dataType match {
      case TimestampType => unix_micros(v).cast("string")
      case _ => v.cast("string")
    }
    val aggs = present.flatMap { c => Seq(
      enc(c)(min(col(c))).as(s"min__$c"),
      enc(c)(max(col(c))).as(s"max__$c"),
      count(col(c)).as(s"cnt__$c")) } :+ count(lit(1)).as("cnt__all")
    val perFile = data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    // long-form (file, col, dtype, min, max) rows; collect is
    // metadata-scale (files x cols)
    val rows = perFile.collect().flatMap { r =>
      // input_file_name() is URI-encoded; %-escaped partition values or
      // file names must decode before the path is re-joined on disk
      val raw = r.getString(0)
      val full = try new java.net.URI(raw).getPath
        catch { case _: java.net.URISyntaxException => raw }
      val rel = stageRel(f, stage, full)
      val total = r.getAs[Long]("cnt__all")
      present.map { c =>
        StatRow(rel, c, data.schema(c).dataType.catalogString,
          Option(r.getAs[String](s"min__$c")).orNull,
          Option(r.getAs[String](s"max__$c")).orNull,
          nulls = total - r.getAs[Long](s"cnt__$c"), values = total)
      }
    }
    rows.toSeq
  }

  private def statsTsvBytes(rows: Seq[StatRow]): Array[Byte] = {
    def enc0(s: String) =
      if (s == null) "\\N" else java.net.URLEncoder.encode(s, "UTF-8")
    // format v2: v1's five fields plus null_count and value_count
    rows.map(sr =>
      (Seq(sr.file, sr.col, sr.dtype, sr.minV, sr.maxV).map(enc0) ++
        Seq(sr.nulls.toString, sr.values.toString))
        .mkString("\t")).mkString("\n").getBytes("UTF-8")
  }

  /** [[statRowsFor]]'s footer leg: every staged file's stats for all
    * `statsCols`, or None when ANY file/column can't serve them
    * footer-exactly (the all-or-nothing contract keeps the sidecar's
    * provenance uniform — no half-footer half-scan mixtures to
    * reason about). 0-row files emit no rows, matching the scan leg
    * (its per-file groupBy never sees them). */
  private def footerStatRows(spark: SparkSession, f: FileSystem,
      stage: Path, dataFiles: Seq[String],
      statsCols: Seq[String]): Option[Seq[StatRow]] = {
    val conf = spark.sessionState.newHadoopConf()
    val rows = Seq.newBuilder[StatRow]
    dataFiles.foreach { fl =>
      val p = new Path(fl)
      scala.util.Try(
        FsFast.footerColumnStats(f, conf, p, statsCols)) match {
        case scala.util.Success(Some((total, byCol)))
            if statsCols.forall(byCol.contains) =>
          if (total > 0) {
            val rel = stageRel(f, stage, p.toUri.getPath)
            statsCols.foreach { c =>
              val (dtype, minS, maxS, nulls) = byCol(c)
              rows += StatRow(rel, c, dtype, minS, maxS,
                nulls = nulls, values = total)
            }
          }
        case _ => return None
      }
    }
    Some(rows.result())
  }

  private def writeStatsTsv(f: FileSystem, stage: Path,
      rows: Seq[StatRow]): Unit = {
    FsFast.put(f, new Path(stage, StatsFile), statsTsvBytes(rows),
      overwrite = false)
  }

  /** Count-only sidecar for commits WITHOUT declared `statsCols`:
    * every data commit persists per-file `cnt__all` (Iceberg's
    * manifest `record_count`), so metadata tables ([[partitions]])
    * answer row counts in O(versions) sidecar reads instead of
    * O(files) footer opens — the difference between a dashboard query
    * and a 10⁶-file driver walk at warehouse scale. Counts come from
    * the freshly staged DELTA's parquet footers, read driver-side on
    * a small pool (no Spark job, no data pages — the same move
    * Iceberg's writers make when they report record counts into the
    * manifest). The pseudo-row encodes as column name "" with null
    * bounds: [[readWhereAllImpl]] filters stat rows by REAL column
    * names, so count rows can never affect pruning. Best-effort — a
    * failed footer read degrades that file to the read-time fallback,
    * never fails the commit. */
  /** Per-task `recordsWritten` of ONE stage-write job, keyed by task
    * partition index. The write job just counted every row it wrote
    * (`BasicWriteTaskStatsTracker` publishes the final count into the
    * task's output metrics); harvesting it here means a data commit's
    * row-count sidecar costs ZERO extra I/O — on an object store the
    * old footer pool paid O(delta files) driver GETs for numbers the
    * cluster already knew. Scoped by a per-commit job-group id (a
    * thread-local property), so concurrent committers in one session
    * each observe only their own write. Only each job's RESULT stage
    * is tracked (stage ids are assigned in creation order, so the
    * job's max id is its result stage — under AQE the write runs as
    * its own final job whose later task-end events overwrite any
    * earlier shuffle-job entry on the same index), which keeps 0-row
    * write tasks: an empty CREATE's single schema-bearing file must
    * record `values = 0`, not fall back to a footer open. */
  private final class WriteTaskCounts(group: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val stages =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val rows = new java.util.concurrent.ConcurrentHashMap[Integer, Long]()
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (js.properties != null && js.stageIds.nonEmpty &&
        group == js.properties.getProperty("spark.jobGroup.id"))
        stages.add(js.stageIds.max)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (stages.contains(te.stageId) &&
        te.reason == org.apache.spark.Success && te.taskMetrics != null)
        rows.put(te.taskInfo.index,
          te.taskMetrics.outputMetrics.recordsWritten)
  }

  /** Run `write` under a private job group with a [[WriteTaskCounts]]
    * listener attached, returning task-index → rows-written. Restores
    * the thread's prior job group (a caller-set group must survive the
    * commit). TaskEnd events post asynchronously — the bus drains
    * before reading; on a drain timeout the partial map is returned
    * and [[writeCountStats]] footer-fallbacks the unmatched files,
    * degrading cost, never correctness. */
  private def harvestWriteCounts(spark: SparkSession)(
      write: => Unit): Map[Int, Long] = {
    val sc = spark.sparkContext
    val group = s"graft-commit-${java.util.UUID.randomUUID()}"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    // setJobGroup also writes interruptOnCancel; restore it too, or a
    // caller's interrupt-on-cancel choice is silently clobbered for
    // every later job on this thread
    val prevInterrupt =
      sc.getLocalProperty("spark.job.interruptOnCancel")
    val l = new WriteTaskCounts(group)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "graft stage write")
      write
      org.apache.spark.sql.graft.SparkInternals
        .waitListenerBus(sc, 10000L)
      import scala.jdk.CollectionConverters._
      l.rows.asScala.map { case (k, v) => (k.intValue, v) }.toMap
    } finally {
      sc.removeSparkListener(l)
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
    }
  }

  /** `part-NNNNN-…` → NNNNN: the writer names each task's file by its
    * partition index, which is the join key back to the harvested
    * task metrics. */
  private val PartIdxRe = "part-(\\d+)-.*".r.anchored
  private def fileIdx(name: String): Option[Int] = name match {
    case PartIdxRe(i) => Try(i.toInt).toOption
    case _ => None
  }

  /** Row-count sidecar for a stats-less commit, served from the write
    * job's own task metrics: a file whose task index maps to exactly
    * ONE staged file takes that task's `recordsWritten` for free. Only
    * ambiguous or unmatched files (a `partitionBy` task fanning into
    * several directories, a `maxRecordsPerFile` split, a drained-late
    * metric) fall back to a footer open — the unpartitioned protocol
    * path (appends, merge rewrites, binpacks) commits with ZERO footer
    * reads. */
  private def writeCountStats(spark: SparkSession, f: FileSystem,
      stage: Path, taskRows: Map[Int, Long] = Map.empty): Unit = {
    val dataFiles = stagedDataFiles(f, stage)
    if (dataFiles.isEmpty) return
    val byIdx = dataFiles.groupBy(fl => fileIdx(new Path(fl).getName))
    val (resolved, leftover) = dataFiles.partition { fl =>
      fileIdx(new Path(fl).getName) match {
        case Some(i) =>
          byIdx(Some(i)).sizeIs == 1 && taskRows.contains(i)
        case None => false
      }
    }
    val fromJob = resolved.map { fl =>
      val p = new Path(fl)
      StatRow(stageRel(f, stage, p.toUri.getPath), "", "", null, null,
        nulls = 0L, values = taskRows(fileIdx(p.getName).get))
    }
    val rows = fromJob ++ countRowsForFiles(spark, f, stage, leftover)
    if (rows.nonEmpty) writeStatsTsv(f, stage, rows)
  }

  /** Stage-relative path of an absolute file path under `stage`.
    * Prefix match on the stage's qualified path — NOT a substring
    * search on the stage NAME, which mis-splits any table whose
    * absolute path itself contains a segment named like a version
    * root (`.../archive/v=3/warehouse/tbl/v=3/...`). The fallback for
    * a qualification mismatch (symlinked working dirs) is still
    * delimiter-anchored, never a bare indexOf. */
  private def stageRel(f: FileSystem, stage: Path, full: String): String = {
    val stageAbs = f.makeQualified(stage).toUri.getPath
    if (full.startsWith(stageAbs + "/")) full.substring(stageAbs.length + 1)
    else {
      val token = "/" + stage.getName + "/"
      val i = full.indexOf(token)
      require(i >= 0, s"file '$full' is not under stage '$stageAbs'")
      full.substring(i + token.length)
    }
  }

  /** The footer-pool count harvest — now only [[collectStats]]' /
    * ANALYZE's backfill of stats-less roots and [[writeCountStats]]'
    * ambiguous-file fallback; the commit hot path reads counts from
    * the write job's own metrics instead. */
  private def countRowsFor(spark: SparkSession, f: FileSystem,
      stage: Path): Seq[StatRow] =
    countRowsForFiles(spark, f, stage, stagedDataFiles(f, stage))

  private def countRowsForFiles(spark: SparkSession, f: FileSystem,
      stage: Path, dataFiles: Seq[String]): Seq[StatRow] = {
    if (dataFiles.isEmpty) return Nil
    // the reader only consults the conf — no defensive copy (a
    // Configuration clone per commit is measurable protocol tax)
    val conf = spark.sessionState.newHadoopConf()
    def one(fl: String): Option[StatRow] = Try {
      val p = new Path(fl)
      footerOpenCount.incrementAndGet()
      val n = FsFast.footerRowCount(f, conf, p)
      val rel = stageRel(f, stage, p.toUri.getPath)
      StatRow(rel, "", "", null, null, nulls = 0L, values = n)
    }.toOption
    // pool only when the delta is wide enough to amortize it; the
    // common protocol commit (a handful of files) stays a serial loop
    if (dataFiles.size <= 4) dataFiles.flatMap(one)
    else {
      val pool = new java.util.concurrent.ForkJoinPool(
        math.min(16, dataFiles.size))
      try {
        import scala.collection.parallel.CollectionConverters._
        val par = dataFiles.par
        par.tasksupport =
          new scala.collection.parallel.ForkJoinTaskSupport(pool)
        par.flatMap(one).seq.toSeq
      } finally pool.shutdown()
    }
  }

  /** Remove CRASH DEBRIS the protocol's self-healing never revisits —
    * the Iceberg `remove_orphan_files` analog, scoped to what this
    * layout can actually orphan: a loser committer that died before
    * deleting its `.stage-*` dir (the winner never touches foreign
    * stages), `.reclaim-*` dirs a reclaimer swept aside, and aged
    * `.*.tmp-*` files (torn sidecar/cursor publishes) at the root or
    * inside published version roots. Unpublished `v=N` slots are NOT
    * orphans — the next committer for that slot reclaims them with
    * the owner-token fencing [[commit]] implements. Age is judged by
    * the NEWEST mtime inside a debris dir (a long-running write keeps
    * its deepest files fresh even when the top dir's mtime staled),
    * against max(olderThanMillis, [[ReclaimGraceMs]]) so the sweep
    * can never race a live commit. Returns the entries removed. */
  def removeOrphanFiles(spark: SparkSession, tableDir: String,
      olderThanMillis: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Int = {
    val f = fs(spark, tableDir)
    val root = new Path(tableDir)
    if (!f.exists(root)) return 0
    val cutoff = System.currentTimeMillis() -
      math.max(olderThanMillis, ReclaimGraceMs)
    def newestMtime(p: Path): Long =
      (f.getFileStatus(p).getModificationTime +:
        FsFast.walkFiles(f, p).map(_.mtime)).max
    var removed = 0
    def sweep(st: org.apache.hadoop.fs.FileStatus): Unit = {
      val n = st.getPath.getName
      val orphanDir = st.isDirectory &&
        (n.startsWith(".stage-") || n.startsWith(".reclaim-"))
      val orphanTmp = st.isFile && n.startsWith(".") &&
        n.contains(".tmp-")
      val stale =
        if (orphanDir) Try(newestMtime(st.getPath)).toOption
          .exists(_ < cutoff)
        else st.getModificationTime < cutoff
      // dry run COUNTS what the sweep would delete, touching nothing —
      // the pre-flight an operator runs before a destructive sweep
      if ((orphanDir || orphanTmp) && stale &&
        (dryRun || f.delete(st.getPath, orphanDir))) removed += 1
    }
    val rootEntries = f.listStatus(root).toSeq
    rootEntries.foreach(sweep)
    // torn tmp files inside published version roots (stats backfill)
    rootEntries.filter(st => st.isDirectory &&
      st.getPath.getName.startsWith("v=")).foreach { vd =>
      // a concurrent vacuum/reclaim may delete a root between the
      // listing above and here — a vanished root has no debris
      Try(f.listStatus(vd.getPath)).toOption
        .foreach(_.filter(_.isFile).foreach(sweep))
    }
    removed
  }

  /** Backfill stats sidecars for the snapshot's LINKED version roots
    * that lack them — the maintenance move that upgrades a
    * pre-round-11 (or foreign-written) table to O(versions) metadata
    * queries and, with `statsCols`, to min/max file pruning, without
    * rewriting a single data file (sidecars are derived caches, so
    * adding one to a published root preserves snapshot immutability
    * where it matters: data and manifests). Per root:
    *
    *   - no usable row counts and no `statsCols` asked → count-only
    *     rows (driver footer pool, same as commit-time);
    *   - `statsCols` asked and any is missing → a full Spark harvest
    *     for those columns (the commit-time writeStats scan);
    *   - already covered → untouched.
    *
    * Existing rows for OTHER columns are preserved (a backfill must
    * never lose pruning the table already paid for). Publication is
    * write-tmp-then-swap; a reader in the swap window sees a missing
    * sidecar and degrades to a full scan — never a torn lie
    * ([[readStatsFile]] additionally voids any malformed read).
    * Returns the number of roots updated. */
  def collectStats(spark: SparkSession, tableDir: String,
      statsCols: Seq[String] = Nil): Int = {
    val v = currentVersion(spark, tableDir)
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val roots = manifestLines(f, tableDir, v)
      .filterNot(isDeleteLine)
      .flatMap(e => entryFiles(f, tableDir, e))
      .map(_.takeWhile(_ != '/')).distinct
    var updated = 0
    roots.foreach { vroot =>
      val existing = readStatsFile(spark, f, tableDir, vroot)
      val haveCounts = existing.exists(_.values >= 0L)
      val missingCols = statsCols.filterNot(c => existing.exists(_.col == c))
      val root = new Path(tableDir, vroot)
      val harvested =
        if (missingCols.nonEmpty) statRowsFor(spark, f, root, missingCols)
        else Nil
      val fresh: Seq[StatRow] =
        if (harvested.nonEmpty) harvested // rows carry counts too
        else if (!haveCounts) countRowsFor(spark, f, root)
        else Nil
      if (fresh.nonEmpty) {
        // fresh rows carry counts; drop superseded count-only
        // pseudo-rows but keep every real-column row not recomputed
        val kept = existing.filter(sr =>
          sr.col.nonEmpty && !missingCols.contains(sr.col))
        val target = new Path(root, StatsFile)
        val tmp = new Path(root,
          s".$StatsFile.tmp-${java.util.UUID.randomUUID()}")
        FsFast.put(f, tmp, statsTsvBytes(kept ++ fresh),
          overwrite = false)
        if (f.exists(target)) f.delete(target, false)
        if (!f.rename(tmp, target)) {
          f.delete(tmp, false)
          throw new IllegalStateException(
            s"cannot publish stats sidecar at $root")
        }
        updated += 1
      }
    }
    updated
  }

  /** Parse a version root's `_stats.tsv` sidecar (driver-side, no
    * Spark job). ANY malformed line voids the whole sidecar — a
    * silently dropped row would remove its file from the pruned scan
    * set entirely (wrong results); an absent sidecar merely degrades
    * the root to a full scan. Versions committed before the TSV format
    * (a `_stats/` parquet dir) fall back to a one-off Spark read, so a
    * pre-existing table keeps the pruning it paid for. */
  private def readStatsFile(spark: SparkSession, f: FileSystem,
      tableDir: String, vroot: String): Seq[StatRow] = {
    val p = new Path(new Path(tableDir, vroot), StatsFile)
    if (!f.exists(p)) return readLegacyStats(spark, f, tableDir, vroot)
    // an unreadable sidecar (torn write, checksum mismatch) degrades
    // to a full scan of its root — stats are an optimization, never a
    // correctness dependency
    val text = Try {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.getOrElse(return Nil)
    def dec(s: String) =
      if (s == "\\N") null else java.net.URLDecoder.decode(s, "UTF-8")
    val parsed = text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split("\t", -1) match {
        // format v1: bounds only — counts unknown, never null-prunes
        case Array(fl, c, dt, mn, mx) =>
          Some(StatRow(dec(fl), dec(c), dec(dt), dec(mn), dec(mx)))
        case Array(fl, c, dt, mn, mx, nl, vl) =>
          for (n <- Try(nl.toLong).toOption; v <- Try(vl.toLong).toOption)
            yield StatRow(dec(fl), dec(c), dec(dt), dec(mn), dec(mx), n, v)
        case _ => None
      }
    }
    if (parsed.exists(_.isEmpty)) Nil else parsed.flatten
  }

  /** Pre-TSV sidecar reader (`_stats/` parquet dir): one Spark read,
    * only ever paid for version roots written by the old format. */
  private def readLegacyStats(spark: SparkSession, f: FileSystem,
      tableDir: String, vroot: String): Seq[StatRow] = {
    val sp = new Path(new Path(tableDir, vroot), StatsDir)
    if (!f.exists(sp)) return Nil
    val parts = f.listStatus(sp).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    if (parts.isEmpty) Nil
    else Try {
      spark.read.parquet(parts: _*).collect().toSeq.map(r =>
        StatRow(r.getAs[String]("file"), r.getAs[String]("col"),
          r.getAs[String]("dtype"), r.getAs[String]("min_v"),
          r.getAs[String]("max_v")))
    }.getOrElse(Nil) // unreadable legacy sidecar: degrade, never lie
  }

  /** Range-predicate read with MANIFEST-LEVEL file pruning: returns
    * exactly `read(version).filter(colName between lo and hi)`, but
    * consults each linked directory's `_stats` sidecar first and hands
    * Spark only the files whose (min, max) intersect [lo, hi] — files
    * are skipped before the planner ever lists or footer-reads them,
    * which is the Iceberg manifest-pruning mechanism behind the
    * reference's pruned-split enumeration (reference README.md:161).
    * Directories committed without stats (or without stats for this
    * column) are scanned in full — pruning degrades, never lies. FILE
    * entries (a file-level merge's surviving files) prune through the
    * sidecar of the VERSION that wrote them, so a merged table keeps
    * the pruning its files were committed with. */
  def readWhere(spark: SparkSession, tableDir: String, colName: String,
      lo: Any, hi: Any, version: Option[Int] = None): DataFrame =
    readWhereAll(spark, tableDir, Seq((colName, lo, hi)), version)

  /** Multi-column form of [[readWhere]]: the conjunction of range
    * predicates, with a file pruned when ANY range provably misses its
    * (min, max) — so the kept set is the intersection of the per-column
    * candidate sets. With a z-ordered layout ([[ZOrder]]) both
    * dimensions' ranges are tight per file and a 2-D box query prunes
    * multiplicatively — the layout's whole point at 100 TB
    * (ZOrderSpec measures it). Pruning cost is O(manifest entries):
    * heavy merge churn fragments the manifest into file entries, and
    * [[compact]] is the maintenance answer that collapses it back. */
  def readWhereAll(spark: SparkSession, tableDir: String,
      ranges: Seq[(String, Any, Any)],
      version: Option[Int] = None): DataFrame =
    readWhereAllImpl(spark, tableDir, ranges, Nil, version,
      withDeletes = true)

  /** IN-list read with manifest-level file pruning: returns exactly
    * `read(version).filter(col(colName).isin(values))`, skipping every
    * file whose stats prove that NO value of the set lies inside its
    * (min, max) — the point-lookup-set shape (key probes, id batches)
    * where a single covering range [min(values), max(values)] would
    * prune nothing on a sparse set. Files without stats for the
    * column scan in full; degrade, never lie. Composes with the
    * [[BloomPropPrefix]] table property: the returned frame's IN
    * filter pushes into the parquet scan, so files that survive
    * manifest pruning get their footer BLOOMS consulted executor-side
    * and whole row groups skipped — the second pruning tier for
    * high-cardinality keys whose min/max spans every file. */
  def readWhereIn(spark: SparkSession, tableDir: String,
      colName: String, values: Seq[Any],
      version: Option[Int] = None): DataFrame =
    readWhereAllImpl(spark, tableDir, Nil, Nil, version,
      withDeletes = true, inSets = Seq((colName, values)))

  /** IS NULL / IS NOT NULL read with manifest-level file pruning:
    * returns exactly `read(version).filter(col(colName).isNull)` (or
    * isNotNull), consulting the stats sidecar's per-file null/value
    * counts first — an IS NULL query skips every file with ZERO nulls
    * in the column, an IS NOT NULL query skips ALL-NULL files. The
    * decisions are plain driver-side integer comparisons (no
    * evaluation job, unlike range pruning's cast semantics). Files
    * from format-v1 sidecars (bounds only, counts unknown) scan in
    * full — pruning degrades, never lies. */
  def readWhereNull(spark: SparkSession, tableDir: String,
      colName: String, isNull: Boolean,
      version: Option[Int] = None): DataFrame =
    readWhereAllImpl(spark, tableDir, Nil, Seq((colName, isNull)),
      version, withDeletes = true)

  /** One global aggregate a manifest can serve. */
  sealed trait StatsAgg
  object StatsAgg {
    final case class MinOf(col: String) extends StatsAgg
    final case class MaxOf(col: String) extends StatsAgg
    /** COUNT(col): non-null count. */
    final case class CountOf(col: String) extends StatsAgg
    case object CountStar extends StatsAgg
  }

  /** Answer a global MIN / MAX / COUNT aggregate from the manifest's
    * stats sidecars alone — ZERO data-file I/O, the Iceberg
    * metadata-aggregate optimization ("SELECT min(c) FROM t" as an
    * O(manifest) driver read instead of a 100-TB scan; Spark's own
    * parquet COUNT pushdown still opens every footer, this opens
    * none). `wants` is (output column name, aggregate) in output
    * order.
    *
    * Returns None — the caller falls back to the scan plan — unless
    * the sidecars PROVABLY carry the answer:
    *  - live MoR tombstones (a tombstone newer than any data entry it
    *    covers) remove rows the sidecar totals still count;
    *  - pending schema steps mean older files carry pre-evolution
    *    names/types (the exportSnapshot discipline) — compaction
    *    clears both;
    *  - every live data file must contribute: a known row count
    *    (format-v2 or count-only sidecar) for COUNT(*), a (count,
    *    null-count) row of the column for COUNT(c), a bounds row of
    *    the column — with ONE consistent dtype across files — for
    *    MIN/MAX (files committed without stats for the column bail);
    *  - every stored non-null bound must cast cleanly back to the
    *    column type (a foreign/stale sidecar degrades a FILTER to a
    *    full scan, but an aggregate is all-or-nothing).
    * MIN/MAX ignore nulls exactly like the scan aggregate (an
    * all-null file stores null bounds, which the fold skips), and
    * bounds evaluate through a tiny Spark job so string/timestamp
    * ordering and cast semantics are the engine's own, never the
    * JVM's. The 0-row evaluation input (an empty table or an
    * all-null column) yields the scan-equal answer: COUNT 0, MIN and
    * MAX null. */
  /** The per-file stats view of a snapshot when (and only when)
    * sidecar-served answers are PROVABLY sound: None on live MoR
    * tombstones (their rows are still in the sidecar totals) or
    * pending schema steps (older files carry pre-evolution
    * names/types), else one entry per live data file — its
    * vroot-RELATIVE path (hive segments included) and its stats rows
    * keyed by column ("" = the count-only pseudo row; missing file →
    * empty map). Shared by [[statsAggregate]] and
    * [[statsAggregateBy]]. */
  private def serveableFileStats(spark: SparkSession, tableDir: String,
      v: Int): Option[Seq[(String, Map[String, StatRow])]] = {
    val f = fs(spark, tableDir)
    if (v <= 0) return None
    val lines = manifestLines(f, tableDir, v)
    val dataEntries = lines.filterNot(isDeleteLine)
    if (dataEntries.isEmpty) return None // nothing committed: let the
    // scan plan produce the canonical empty-relation aggregate
    // a tombstone is LIVE iff it applies to an older data entry — the
    // same sequence rule the read path joins with
    val liveTombs = lines.filter(isDeleteLine)
      .map(e => entryVer(e.stripPrefix(DeletePrefix)))
      .exists(tv => dataEntries.exists(de => tv > entryVer(de)))
    if (liveTombs) return None
    if (renameChain(f, tableDir, v)
      .exists(st => dataEntries.exists(de => st.ver > entryVer(de))))
      return None
    // per live file: its writing root's stats rows. FILE entries
    // (merge survivors) read the sidecar of the version that wrote
    // them, like readWhere.
    val statsByRoot = scala.collection.mutable
      .Map.empty[String, Map[String, Map[String, StatRow]]]
    def rootStats(vr: String): Map[String, Map[String, StatRow]] =
      statsByRoot.getOrElseUpdate(vr,
        readStatsFile(spark, f, tableDir, vr)
          .groupBy(_.file).view
          .mapValues(_.map(sr => sr.col -> sr).toMap).toMap)
    Some(dataEntries.flatMap { e =>
      val vr = e.split("/").head
      entryFiles(f, tableDir, e).map { rel =>
        val rel2 = rel.stripPrefix(vr + "/")
        (rel2, rootStats(vr).getOrElse(rel2, Map.empty))
      }
    })
  }

  /** Decode one stored bound back to its column type with the
    * engine's cast semantics (timestamps persisted as epoch micros).
    * Shared by both aggregate servers' evaluation frames. */
  private def statBoundCol(dt: String)(c: Column): Column =
    if (dt == "timestamp") timestamp_micros(c.try_cast("long"))
    else c.try_cast(dt)

  /** One file's row count, from ANY stats row with known totals
    * (format v2 or the count-only pseudo row). */
  private def fileCountStar(rows: Map[String, StatRow]): Option[Long] =
    rows.values.find(_.values >= 0).map(_.values)

  /** One file's NON-NULL count of `c` (needs a v2 row of the column). */
  private def fileCountOf(rows: Map[String, StatRow],
      c: String): Option[Long] =
    rows.get(c).filter(sr => sr.values >= 0 && sr.nulls >= 0)
      .map(sr => sr.values - sr.nulls)

  def statsAggregate(spark: SparkSession, tableDir: String,
      wants: Seq[(String, StatsAgg)],
      version: Option[Int] = None): Option[DataFrame] = {
    import StatsAgg._
    require(wants.nonEmpty, "statsAggregate needs at least one aggregate")
    val v = version.getOrElse(currentVersion(spark, tableDir))
    val files: Seq[Map[String, StatRow]] =
      serveableFileStats(spark, tableDir, v) match {
        case Some(fsAll) => fsAll.map(_._2)
        case None => return None
      }
    def countStar: Option[Long] = {
      val per = files.map(fileCountStar)
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    def countOf(c: String): Option[Long] = {
      val per = files.map(fileCountOf(_, c))
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    // bounds rows of one column, dtype-consistent across every file
    def boundsOf(c: String): Option[(String, Seq[StatRow])] = {
      val per = files.map(_.get(c))
      if (per.exists(_.isEmpty)) return None
      val rows = per.flatten
      val dts = rows.map(_.dtype).distinct
      if (dts.length != 1) None else Some((dts.head, rows))
    }
    // assemble: counts fold driver-side (plain long sums); bounds
    // evaluate in ONE local Spark job for cast/ordering semantics,
    // with a per-column cast-failure flag that bails the whole answer
    import spark.implicits._
    val boundCol = statBoundCol _
    val parts: Seq[Option[DataFrame]] = wants.zipWithIndex.map {
      case ((_, CountStar), i) =>
        countStar.map(n => spark.range(1).select(
          lit(n).as(s"c$i"), lit(0L).as(s"bad$i")))
      case ((_, CountOf(c)), i) =>
        countOf(c).map(n => spark.range(1).select(
          lit(n).as(s"c$i"), lit(0L).as(s"bad$i")))
      case ((_, w), i) =>
        val (c, isMin) = w match {
          case MinOf(n) => (n, true)
          case MaxOf(n) => (n, false)
          case _ => throw new MatchError(w) // unreachable
        }
        boundsOf(c).map { case (dt, rows) =>
          val raw = rows.map(r => if (isMin) r.minV else r.maxV)
            .toDF("raw")
          val b = boundCol(dt)(col("raw"))
          raw.agg(
            (if (isMin) min(b) else max(b)).as(s"c$i"),
            sum(when(col("raw").isNotNull && b.isNull, 1L)
              .otherwise(0L)).as(s"bad$i"))
        }
    }
    if (parts.exists(_.isEmpty)) return None
    val joined = parts.flatten.reduce(_.crossJoin(_))
    val head = joined.collect().head
    val bad = wants.indices.exists(i =>
      head.getAs[Long](s"bad$i") > 0)
    if (bad) None
    else Some(joined.select(wants.zipWithIndex.map {
      case ((name, _), i) => col(s"c$i").as(name) }: _*))
  }

  /** PARTITION-grouped sibling of [[statsAggregate]]: serve
    * `SELECT <groupCol>, min/max/count... GROUP BY <groupCol>` from
    * the sidecars when `groupCol` is the hive partition column of
    * EVERY live file — each file belongs to exactly one partition
    * value (parsed from its own path segment, hive-unescaped), so
    * per-file counts sum and per-file bounds fold WITHIN each group,
    * zero data I/O. This is the dashboard shape at warehouse scale:
    * "rows and freshest timestamp per day" as an O(manifest) driver
    * read instead of a full scan.
    *
    * On top of [[statsAggregate]]'s bail list, this returns None when
    * any live file lacks a `<groupCol>=` path segment (unpartitioned
    * or differently-partitioned roots in the mix), when a segment
    * holds the hive null sentinel (a null group can't round-trip), or
    * when any group value fails to cast to `groupDt` (the relation's
    * column type — path values are strings; inference must agree with
    * the scan plan's). `wants` must NOT name the group column
    * itself (no stats rows exist for a path-materialized column; the
    * analyzer rule keeps that shape on the scan plan); an EMPTY
    * `wants` serves the bare distinct-partition-values probe (the
    * SHOW PARTITIONS analog). The group column is emitted FIRST,
    * named `groupName`. */
  def statsAggregateBy(spark: SparkSession, tableDir: String,
      groupName: String, groupCol: String, groupDt: String,
      wants: Seq[(String, StatsAgg)],
      version: Option[Int] = None): Option[DataFrame] = {
    import StatsAgg._
    val v = version.getOrElse(currentVersion(spark, tableDir))
    val files = serveableFileStats(spark, tableDir, v) match {
      case Some(fsAll) => fsAll
      case None => return None
    }
    val NullPart = "__HIVE_DEFAULT_PARTITION__"
    val pfx = s"$groupCol="
    // one partition value per file, from its own path
    val tagged0 = files.map { case (rel, rows) =>
      rel.split("/").find(_.startsWith(pfx)).map(s =>
        (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.stripPrefix(pfx)), rows))
    }
    if (tagged0.exists(_.isEmpty)) return None
    val tagged: Seq[(String, Map[String, StatRow])] = tagged0.flatten
    if (tagged.exists(_._1 == NullPart)) return None
    val groups = tagged.map(_._1).distinct
    // per-group fold, same coverage rules as the global path
    def countStarOf(rows: Seq[Map[String, StatRow]]): Option[Long] = {
      val per = rows.map(fileCountStar)
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    def countOfC(rows: Seq[Map[String, StatRow]],
        c: String): Option[Long] = {
      val per = rows.map(fileCountOf(_, c))
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    val byGroup: Map[String, Seq[Map[String, StatRow]]] =
      tagged.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val boundCol = statBoundCol _
    import spark.implicits._
    // counts fold driver-side; bounds evaluate per (group, column) in
    // ONE local job with the same cast-failure all-or-nothing flag
    val parts: Seq[Option[DataFrame]] = wants.zipWithIndex.map {
      case ((_, CountStar), i) =>
        val per = groups.map(g => countStarOf(byGroup(g)).map(g -> _))
        if (per.exists(_.isEmpty)) None
        else Some(per.flatten.toDF("__g", s"c$i")
          .withColumn(s"bad$i", lit(0L)))
      case ((_, CountOf(c)), i) =>
        val per = groups.map(g => countOfC(byGroup(g), c).map(g -> _))
        if (per.exists(_.isEmpty)) None
        else Some(per.flatten.toDF("__g", s"c$i")
          .withColumn(s"bad$i", lit(0L)))
      case ((_, w), i) =>
        val (c, isMin) = w match {
          case MinOf(n) => (n, true)
          case MaxOf(n) => (n, false)
          case _ => throw new MatchError(w) // unreachable
        }
        val rowsOpt: Seq[Option[(String, String, String)]] =
          tagged.map { case (g, rows) =>
            rows.get(c).map(sr =>
              (g, sr.dtype, if (isMin) sr.minV else sr.maxV))
          }
        if (rowsOpt.exists(_.isEmpty)) None
        else {
          val rows = rowsOpt.flatten
          val dts = rows.map(_._2).distinct
          if (dts.length != 1) None
          else {
            val dt = dts.head
            val raw = rows.map(r => (r._1, r._3)).toDF("__g", "raw")
            val b = boundCol(dt)(col("raw"))
            Some(raw.groupBy(col("__g")).agg(
              (if (isMin) min(b) else max(b)).as(s"c$i"),
              sum(when(col("raw").isNotNull && b.isNull, 1L)
                .otherwise(0L)).as(s"bad$i")))
          }
        }
    }
    if (parts.exists(_.isEmpty)) return None
    // the group axis itself: every group present exactly once, cast
    // to the RELATION's column type — a failed cast bails (path
    // strings must agree with the scan plan's inference)
    val gFrame = groups.toDF("__g")
      .select(col("__g"), col("__g").try_cast(groupDt).as("gv"))
    val joined = parts.flatten
      .foldLeft(gFrame)((acc, p) => acc.join(p, Seq("__g"), "left"))
    val rows = joined.collect()
    val bad = rows.exists(r =>
      (!r.isNullAt(r.fieldIndex("__g")) &&
        r.isNullAt(r.fieldIndex("gv"))) ||
      wants.indices.exists { i =>
        val bi = r.fieldIndex(s"bad$i")
        !r.isNullAt(bi) && r.getLong(bi) > 0
      })
    if (bad) None
    else Some(joined.select(col("gv").as(groupName) +:
      wants.zipWithIndex.map {
        case ((name, _), i) => col(s"c$i").as(name) }: _*))
  }

  /** See [[readSnapshot]] for why the merge provenance probe reads
    * without tombstones. */
  private def readWhereAllImpl(spark: SparkSession, tableDir: String,
      ranges: Seq[(String, Any, Any)],
      nullPreds: Seq[(String, Boolean)],
      version: Option[Int], withDeletes: Boolean,
      inSets: Seq[(String, Seq[Any])] = Nil): DataFrame = {
    require(ranges.nonEmpty || nullPreds.nonEmpty || inSets.nonEmpty,
      "readWhereAll needs at least one predicate")
    inSets.foreach { case (c, vs) => require(vs.nonEmpty,
      s"IN-set for '$c' must be non-empty") }
    val v = version.getOrElse(currentVersion(spark, tableDir))
    require(v > 0, s"no committed version at $tableDir")
    val f = fs(spark, tableDir)
    val pred = (ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    } ++ nullPreds.map { case (c, wantNull) =>
      if (wantNull) col(c).isNull else col(c).isNotNull
    } ++ inSets.map { case (c, vs) =>
      col(c).isin(vs: _*)
    }).reduce(_ && _)
    val colNames = ranges.map(_._1) ++ nullPreds.map(_._1) ++
      inSets.map(_._1)
    val chain = renameChain(f, tableDir, v)
    val entryInfo = manifestDirs(f, tableDir, v).map { dn =>
      val isFile = f.getFileStatus(new Path(tableDir, dn)).isFile
      // a FILE entry's stats (and partition-value basePath) live in
      // the version directory that originally wrote it
      (dn, isFile, if (isFile) dn.split("/").head else dn)
    }
    // Sidecars parse DRIVER-side (they are metadata the driver wrote
    // at commit — reading them back through a Spark job was pure
    // action-floor tax); an empty, missing, or unreadable sidecar
    // degrades to full scans. Only the range EVALUATION below is a
    // Spark job, kept for its cast/lit semantics.
    val statRows: Seq[(String, StatRow)] =
      entryInfo.map(_._3).distinct.flatMap { vr =>
        readStatsFile(spark, f, tableDir, vr)
          .filter(sr => colNames.contains(sr.col)).map(vr -> _)
      }
    val byRoot = statRows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // ONE evaluation job for every (root, file, column, range) at once,
    // keeping Spark's cast/lit semantics (the legitimate reason this
    // isn't plain Scala). A file is pruned when ANY requested column's
    // range PROVABLY misses its (min, max):
    //  - all-null stats (min AND max null) prune — the contract filter
    //    excludes nulls anyway;
    //  - a bound is pruning evidence only when its raw string is
    //    non-null AND its cast succeeds: a cast-FAILING value (a stale
    //    or foreign sidecar format) keeps the file — degrade to a full
    //    scan, never lie (coalesce(cmp, false) folds the null);
    //  - columns without stats rows for a file never prune it.
    // Session-zoned timestamps were stored as epoch micros: the bounds
    // convert through THIS session's lit-to-timestamp semantics — the
    // same interpretation the final filter uses — then compare on the
    // absolute micros axis.
    val missed: Set[(String, String)] = if (statRows.isEmpty) Set.empty
    else {
      import spark.implicits._
      val local = statRows.map { case (vr, sr) =>
        (vr, sr.file, sr.col, sr.dtype, sr.minV, sr.maxV)
      }.toDF("vroot", "file", "col", "dtype", "min_v", "max_v")
      val dtypesByCol = statRows
        .map(t => (t._2.col, t._2.dtype))
        .distinct
      val missConds = ranges.flatMap { case (c, lo, hi) =>
        dtypesByCol.collect { case (`c`, dt) =>
          // try_cast, not cast: a malformed stored bound (stale/foreign
          // sidecar format) must fold to null -> keep, not throw (ANSI)
          val (minC, maxC, loB, hiB) =
            if (dt == "timestamp")
              (col("min_v").try_cast("long"), col("max_v").try_cast("long"),
                unix_micros(lit(lo).cast("timestamp")),
                unix_micros(lit(hi).cast("timestamp")))
            else
              (col("min_v").try_cast(dt), col("max_v").try_cast(dt),
                lit(lo), lit(hi))
          col("col") === c && col("dtype") === dt &&
            ((col("min_v").isNull && col("max_v").isNull) ||
              coalesce(maxC < loB, lit(false)) ||
              coalesce(minC > hiB, lit(false)))
        }
      } ++ inSets.flatMap { case (c, vs) =>
        // IN-set pruning: a file misses only when EVERY value provably
        // lands outside its (min, max) — the disjunctive complement of
        // the range rule, same degrade-never-lie bound semantics
        dtypesByCol.collect { case (`c`, dt) =>
          def bound(v: Any) =
            if (dt == "timestamp") unix_micros(lit(v).cast("timestamp"))
            else lit(v)
          val (minC, maxC) =
            if (dt == "timestamp")
              (col("min_v").try_cast("long"), col("max_v").try_cast("long"))
            else
              (col("min_v").try_cast(dt), col("max_v").try_cast(dt))
          val allMiss = vs.map { v =>
            coalesce(maxC < bound(v), lit(false)) ||
              coalesce(minC > bound(v), lit(false))
          }.reduce(_ && _)
          col("col") === c && col("dtype") === dt &&
            ((col("min_v").isNull && col("max_v").isNull) || allMiss)
        }
      }
      if (missConds.isEmpty) Set.empty
      else local.filter(missConds.reduce(_ || _))
        .select("vroot", "file").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    // null-predicate pruning is plain long arithmetic on the sidecar's
    // counts — driver-side, no evaluation job. Unknown counts (-1,
    // format-v1 rows) never prune.
    val nullMissed: Set[(String, String)] = statRows.collect {
      case (vr, sr) if sr.values >= 0 && nullPreds.exists {
        case (c, wantNull) => c == sr.col &&
          (if (wantNull) sr.nulls == 0 else sr.nulls == sr.values)
      } => (vr, sr.file)
    }.toSet
    val deletes =
      if (withDeletes) manifestDeletes(spark, f, tableDir, v) else Nil
    // hidden-partitioning pruning: a root written under a transform
    // whose source is one of the requested range columns gets the
    // implied partition-column predicate — Spark's partition pruning
    // then skips whole hive directories, on top of the sidecar's
    // file-level pruning. Roots without a spec (merge rewrites, plain
    // tables) simply scan by stats alone.
    val specs = scala.collection.mutable
      .Map.empty[String, Option[(Transform, String, Option[String])]]
    def partPred(vroot: String,
        rn: Seq[SchemaStep]): Option[(Column, String)] =
      specs.getOrElseUpdate(vroot, readTspec(f, tableDir, vroot))
        .flatMap { case (t, dt, zone) =>
          // a pending schema step touching the transform's source
          // makes the spec's name stale for this root — skip partition
          // pruning rather than prune on the wrong column
          if (rn.exists {
            case RenameStep(_, from, to) =>
              from == t.source || to == t.source
            case AddStep(_, n, _) => n == t.source
            case DropStep(_, n) => n == t.source
            case RetypeStep(_, n, _) => n == t.source
          }) None
          else ranges.collectFirst { case (c, lo, hi) if c == t.source =>
            t.rangePred(lo, hi, dt, zone).map((_, t.partCol))
          }.flatten
        }
    val parts = entryInfo.flatMap { case (dn, isFile, vroot) =>
      lazy val full = scanUnit(spark, entryUnit(f, tableDir, dn))
      val rn = chain.filter(_.ver > entryVer(dn))
      // stats sidecars carry the entry's WRITE-time column names: a
      // pending schema step over any requested column makes them
      // stale, so that entry degrades to a full scan (the evolved
      // post-scan filter stays correct) — degrade, never prune on the
      // wrong physical column
      val renamedCols = rn.flatMap {
        case RenameStep(_, from, to) => Seq(from, to)
        case AddStep(_, n, _) => Seq(n)
        case DropStep(_, n) => Seq(n)
        case RetypeStep(_, n, _) => Seq(n)
      }.toSet
      val st =
        if (colNames.exists(renamedCols.contains)) Nil
        else byRoot.getOrElse(vroot, Nil)
      val stFiles =
        (if (isFile) st.map(_.file)
          .filter(_ == dn.stripPrefix(vroot + "/"))
        else st.map(_.file)).distinct
      val scan =
        if (stFiles.isEmpty) Some(full) // no stats for a requested column
        else {
          val basePath = new Path(tableDir, vroot)
          val kept = stFiles.filterNot(fl =>
            missed.contains((vroot, fl)) ||
              nullMissed.contains((vroot, fl)))
            .map(rel => new Path(basePath, rel).toString)
          if (kept.isEmpty) None
          else Some(scanUnit(spark,
            ScanUnit(kept.toIndexedSeq, Some(basePath.toString),
              ownerEpoch(f, tableDir, vroot))))
        }
      // merge-on-read tombstones newer than this entry apply here too —
      // a pruned read must agree with read().filter
      scan.map { s0 =>
        val s = applySchemaSteps(s0, rn, Int.MinValue)
        // a root can carry a spec its files don't follow: the empty
        // CREATE TABLE / setSpec commits DECLARE a spec (their _tspec
        // seeds inheritance) but their schema-bearing empty file is
        // written unpartitioned. Apply the partition predicate only
        // when the derived column physically materializes — otherwise
        // scan the (empty or legacy) root in full: degrade, never
        // fail the read on an unresolvable hidden column.
        //
        // Identity guard: hive partition-path type INFERENCE is lossy
        // for numeric-looking STRING values — '01' writes path
        // `gpart_id_x=01`, the whole directory column infers as int 1,
        // and casting back renders '1', so the identity predicate
        // ('1' between '01' and '01' = false) would apply as an
        // UNDER-approximating ROW FILTER and silently drop matching
        // rows — wrong results, not just lost pruning. Prune only when
        // the materialized dtype proves the path value round-trips:
        // either inference agreed with the written dtype, or the
        // written dtype renders canonically (non-string). A lossy root
        // degrades to its full scan; the exact source-column filter in
        // `pred` below still applies.
        def identityLossy(partCol: String): Boolean =
          specs(vroot).exists { case (t, dt, _) =>
            t.isInstanceOf[Transform.Identity] &&
              (dt == "string" || dt.startsWith("varchar") ||
                dt.startsWith("char")) &&
              s.schema(partCol).dataType !=
                org.apache.spark.sql.types.StringType
          }
        val pruned = partPred(vroot, rn) match {
          case Some((pp, partCol)) if s.columns.contains(partCol) &&
              !identityLossy(partCol) =>
            s.filter(pp)
          case _ => s
        }
        applyDeletes(pruned, deletes.filter(_.ver > entryVer(dn)))
      }
    }
    if (parts.isEmpty) {
      // every file pruned — the hot path of a DISJOINT-key upsert on
      // a stats-carrying table. The empty frame must be a
      // SINGLE-source local plan, not read().filter(false): callers
      // put input_file_name() on top (mergeFiles' touched-file
      // probe), and analysis rejects that expression over the full
      // read's union/tombstone-anti-join shape — which would turn
      // the CHEAPEST merge case (nothing to rewrite, link-append the
      // batch) into an analysis error.
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        read(spark, tableDir, Some(v)).schema)
    }
    else hideDerived(
      parts.reduce(_.unionByName(_, allowMissingColumns = true))
        .filter(pred))
  }
}
