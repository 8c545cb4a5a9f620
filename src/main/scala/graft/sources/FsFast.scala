package graft.sources

import java.nio.file.{FileVisitResult, Files, Path => NioPath, Paths,
  SimpleFileVisitor, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Driver-side metadata I/O fast path for the `file:` scheme.
  *
  * The versioned-table protocol is metadata-op dense: every commit
  * writes a handful of tiny sidecars and every read walks version
  * roots. On Hadoop's local filesystem those ops are dominated not by
  * I/O but by per-file process forks: `listFiles(recursive)` builds
  * `LocatedFileStatus`es whose permission load shells `ls -ld` per
  * file (~4 ms each), and `create` shells a `chmod` per file — twice,
  * once more for the ChecksumFileSystem's `.crc` twin (~10 ms per tiny
  * sidecar). Measured on this box: a recursive listing of a 10-file
  * directory costs ~40-60 ms and five 100-byte creates ~50-70 ms,
  * while the equivalent java.nio calls are microseconds.
  *
  * Each helper therefore dispatches on the FileSystem's scheme: local
  * goes through java.nio, everything else keeps the Hadoop call —
  * which IS the optimized path remotely (`listFiles(recursive)` is one
  * listing RPC per level on HDFS and a flat paged listing on S3A;
  * `create` is the only write primitive there). Callers keep Hadoop
  * semantics either way:
  *   - `put(overwrite = false)` is an atomic create-exclusive (nio
  *     `CREATE_NEW` = O_CREAT|O_EXCL) that throws an `IOException`
  *     subclass when the target exists — the commit-marker contract;
  *   - nio writes remove a stale sibling `.crc` left by a past Hadoop
  *     write of the same path, so a later checksummed read can never
  *     mismatch;
  *   - `walkFiles` throws `FileNotFoundException` for a missing root,
  *     like `listFiles`.
  */
private[graft] object FsFast {

  /** The nio path for `p` when `f` is the local scheme, else None —
    * the dispatch test every helper shares. */
  def localPath(f: FileSystem, p: Path): Option[NioPath] =
    if ("file" == f.getUri.getScheme)
      Some(Paths.get(f.makeQualified(p).toUri.getPath))
    else None

  /** One file from a recursive walk: enough for every protocol caller
    * (name filters, parent-dir filters, manifest-relative paths,
    * orphan-sweep mtimes) without a `FileStatus`'s permission load. */
  final case class Entry(path: Path, name: String, parentName: String,
      len: Long, mtime: Long)

  /** Recursive file listing (files only, like `listFiles(recursive)`).
    * Dot-prefixed names are skipped on the local arm — Hadoop's
    * ChecksumFileSystem hides its `.crc` sidecars from `listFiles`,
    * and a raw nio walk surfacing them would make the two arms
    * disagree (an unfiltered caller would over-count or leak `.crc`
    * paths into a manifest). Dot-DIRECTORIES are not pruned: Hadoop's
    * hidden-path convention is a reader-side filter, and protocol
    * callers walk inside `.stage-*` dirs deliberately.
    *
    * `skipDir` prunes subtrees: it sees each directory's path relative
    * to `dir` (`a`, `a/b`), and a `true` drops everything below it.
    * The local arm never descends into a pruned directory, so files a
    * concurrent writer creates and renames away there cannot fail the
    * walk; the remote arm lists recursively and filters. */
  def walkFiles(f: FileSystem, dir: Path,
      skipDir: String => Boolean = _ => false): Seq[Entry] =
    localPath(f, dir) match {
      case Some(root) =>
        if (!Files.exists(root))
          throw new java.io.FileNotFoundException(dir.toString)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
        Files.walkFileTree(root, new SimpleFileVisitor[NioPath] {
          override def preVisitDirectory(d: NioPath,
              attrs: BasicFileAttributes): FileVisitResult =
            if (d != root && skipDir(root.relativize(d).toString))
              FileVisitResult.SKIP_SUBTREE
            else FileVisitResult.CONTINUE
          override def visitFile(file: NioPath,
              attrs: BasicFileAttributes): FileVisitResult = {
            val name = file.getFileName.toString
            if (attrs.isRegularFile && !name.startsWith(".")) {
              val parent = file.getParent
              buf += Entry(new Path(file.toString), name,
                if (parent == null) "" else
                  Option(parent.getFileName).fold("")(_.toString),
                attrs.size(), attrs.lastModifiedTime().toMillis)
            }
            FileVisitResult.CONTINUE
          }
        })
        buf.toSeq
      case None =>
        val base = f.makeQualified(dir).toUri.getPath.stripSuffix("/")
        def pruned(p: Path): Boolean = {
          val rel = p.getParent.toUri.getPath.stripPrefix(base)
            .stripPrefix("/").split("/").filter(_.nonEmpty)
          rel.indices.exists(i => skipDir(rel.take(i + 1).mkString("/")))
        }
        val it = f.listFiles(dir, /*recursive=*/ true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
        while (it.hasNext) {
          val st = it.next()
          val p = st.getPath
          if (!pruned(p))
            buf += Entry(p, p.getName, p.getParent.getName, st.getLen,
              st.getModificationTime)
        }
        buf.toSeq
    }

  /** Write a small file in one shot with Hadoop `create` semantics
    * (`overwrite = false` throws when the target exists — atomically,
    * via O_EXCL on the local path). */
  def put(f: FileSystem, p: Path, bytes: Array[Byte],
      overwrite: Boolean): Unit =
    localPath(f, p) match {
      case Some(np) =>
        val parent = np.getParent
        if (parent != null) Files.createDirectories(parent)
        if (overwrite)
          Files.write(np, bytes, StandardOpenOption.CREATE,
            StandardOpenOption.TRUNCATE_EXISTING,
            StandardOpenOption.WRITE)
        else
          Files.write(np, bytes, StandardOpenOption.CREATE_NEW,
            StandardOpenOption.WRITE)
        // a checksummed read of a path REWRITTEN through nio must not
        // verify against the old Hadoop write's sibling .crc
        if (parent != null) Files.deleteIfExists(
          parent.resolve("." + np.getFileName.toString + ".crc"))
      case None =>
        val out = f.create(p, overwrite)
        try out.write(bytes) finally out.close()
    }

  /** Empty-file `put` — markers, hints, pins. */
  def touch(f: FileSystem, p: Path, overwrite: Boolean): Unit =
    put(f, p, Array.emptyByteArray, overwrite)

  /** The parquet footer's record count. Local opens skip Hadoop
    * entirely (`LocalInputFile` seeks the raw channel — no
    * FileStatus, no checksum stream); remote keeps `HadoopInputFile`,
    * whose positioned reads are the right shape on HDFS/S3. */
  def footerRowCount(f: FileSystem, conf: Configuration,
      p: Path): Long = {
    val in = localPath(f, p) match {
      case Some(np) => new org.apache.parquet.io.LocalInputFile(np)
      case None => org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, conf)
    }
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** The exact Catalyst schema a Spark writer embedded in the footer
    * (`org.apache.spark.sql.parquet.row.metadata`) — the same key
    * Spark's own inference prefers. None when absent (foreign
    * writers) or unparsable; the caller falls back to inference. */
  def footerSparkSchema(f: FileSystem, conf: Configuration,
      p: Path): Option[org.apache.spark.sql.types.StructType] = {
    val in = localPath(f, p) match {
      case Some(np) => new org.apache.parquet.io.LocalInputFile(np)
      case None => org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, conf)
    }
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(json => scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .toOption)
    } finally r.close()
  }

  /** Column-chunk statistics from a parquet footer — (row count,
    * per-column (catalog dtype, min, max, null count) with min/max
    * rendered EXACTLY as Spark's `cast(col as string)` would) for the
    * requested top-level columns. None when any column is missing,
    * is not one of the types whose footer values render identically
    * to Spark's cast (int/bigint/smallint/tinyint via toString,
    * string via UTF-8 bytes, timestamp via micros — dates, floats,
    * decimals and NTZ all format differently and must go through the
    * engine), or lacks complete chunk statistics in any row group —
    * the caller falls back to its Spark-scan path. Statistics merge
    * across row groups with parquet's own orders (unsigned byte
    * order for UTF8, matching Spark's UTF8String comparison). */
  def footerColumnStats(f: FileSystem, conf: Configuration, p: Path,
      cols: Seq[String]):
      Option[(Long, Map[String, (String, String, String, Long)])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = localPath(f, p) match {
      case Some(np) => new org.apache.parquet.io.LocalInputFile(np)
      case None => org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, conf)
    }
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val md = r.getFooter
      val schema = md.getFileMetaData.getSchema
      import scala.jdk.CollectionConverters._
      val blocks = md.getBlocks.asScala.toSeq
      val total = blocks.map(_.getRowCount).sum
      val out = Map.newBuilder[String, (String, String, String, Long)]
      cols.foreach { c =>
        if (!schema.containsField(c)) return None
        val t = schema.getType(Seq(c): _*)
        if (!t.isPrimitive) return None
        val prim = t.asPrimitiveType()
        val logical = prim.getLogicalTypeAnnotation
        // (catalog dtype, is the chunk-stat value → string rendering
        // identical to Spark's cast?) — per physical+logical type
        val dtype: String = (prim.getPrimitiveTypeName, logical) match {
          case (INT64, null) => "bigint"
          case (INT64, ts: LogicalTypeAnnotation
              .TimestampLogicalTypeAnnotation)
              if ts.isAdjustedToUTC && ts.getUnit ==
                LogicalTypeAnnotation.TimeUnit.MICROS => "timestamp"
          case (INT32, null) => "int"
          case (INT32, i: LogicalTypeAnnotation
              .IntLogicalTypeAnnotation)
              if i.isSigned && i.getBitWidth == 32 => "int"
          case (INT32, i: LogicalTypeAnnotation
              .IntLogicalTypeAnnotation)
              if i.isSigned && i.getBitWidth == 16 => "smallint"
          case (INT32, i: LogicalTypeAnnotation
              .IntLogicalTypeAnnotation)
              if i.isSigned && i.getBitWidth == 8 => "tinyint"
          case (BINARY, _: LogicalTypeAnnotation
              .StringLogicalTypeAnnotation) => "string"
          case _ => return None
        }
        var nulls = 0L
        var minB: Array[Byte] = null // string order: unsigned bytes
        var maxB: Array[Byte] = null
        var minL = Long.MaxValue
        var maxL = Long.MinValue
        var sawValue = false
        blocks.foreach { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == c).getOrElse(return None)
          val st = cc.getStatistics
          // usable stats: recorded, null count known; an all-null
          // chunk records numNulls == values with no min/max
          if (st == null || st.isEmpty || !st.isNumNullsSet) return None
          nulls += st.getNumNulls
          if (st.hasNonNullValue) {
            sawValue = true
            if (dtype == "string") {
              val lo = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              val hi = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              def cmp(a: Array[Byte], bb: Array[Byte]): Int =
                java.util.Arrays.compareUnsigned(a, bb)
              if (minB == null || cmp(lo, minB) < 0) minB = lo
              if (maxB == null || cmp(hi, maxB) > 0) maxB = hi
            } else {
              val lo = st.genericGetMin.asInstanceOf[Number].longValue()
              val hi = st.genericGetMax.asInstanceOf[Number].longValue()
              if (lo < minL) minL = lo
              if (hi > maxL) maxL = hi
            }
          } else if (st.getNumNulls != b.getRowCount) return None
        }
        val (minS, maxS) =
          if (!sawValue) (null: String, null: String)
          else if (dtype == "string")
            (new String(minB, java.nio.charset.StandardCharsets.UTF_8),
              new String(maxB, java.nio.charset.StandardCharsets.UTF_8))
          else (minL.toString, maxL.toString)
        out += c -> ((dtype, minS, maxS, nulls))
      }
      Some((total, out.result()))
    } finally r.close()
  }
}
