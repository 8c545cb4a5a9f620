package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained DERIVED tables — changelog-driven
  * materialized-view refresh, the composition the lakehouse protocol
  * exists to enable (the "medallion" bronze→silver step, Iceberg's
  * incremental-scan consumer, Delta's `MERGE`-from-CDF recipe): a
  * destination table holds `transform(source)` and each refresh
  * advances it by reading ONLY the source commits since the last
  * refresh ([[Versioned.readChanges]] — O(changed files + tombstone
  * keys), never a source rescan), reducing them to final per-key
  * states, and landing ONE atomic [[Versioned.applyChanges]] commit.
  *
  * The processed source version is pinned in the destination's own
  * commit note (`src=vN` — the same pin discipline as the persisted
  * search indexes), so the cursor travels WITH the table: any engine
  * or session resumes from the note, a crashed refresh never
  * half-advances (note and data land in one commit), and time travel
  * over the destination shows which source version each state
  * reflects.
  *
  * Contract on [[Refresh.transform]]: ROW-PURE with respect to `key`
  * — each output row derives from the single input row with the same
  * key value, keys pass through unchanged, and dropping a row
  * (filtering) is allowed. That is exactly the class where row-level
  * deltas propagate without recomputation: an insert event maps to
  * an upsert of its transformed row (or a delete, when the transform
  * filters it out — a row can cross the filter boundary in either
  * direction on update), a delete event maps to a key delete.
  * Aggregating transforms need their own algebra (the persisted text
  * index's stats merge is one hand-built example) and are refused by
  * nothing here — they are simply the caller's responsibility to NOT
  * hand in.
  *
  * Scale shape per refresh: one changelog read over the delta, one
  * per-key last-event reduction (a map-side-combinable max_by keyed
  * on `key`), one CoW/MoR commit touching only files holding changed
  * keys. Nothing scales with the source's total size or history
  * length; a full rebuild happens exactly once, at bootstrap. */
object DerivedTable {

  // —— materialized-view spec persistence ——
  // `CREATE MATERIALIZED VIEW` (graft.plans.MvDdl) stores the view's
  // definition in the DESTINATION's own table properties, so the spec
  // travels with the bytes exactly like the src=vN pin does: any
  // session (or engine reading `_props`) can refresh the view with no
  // caller-supplied arguments — `CALL graft.system.refresh_mv(dest)`
  // reads these back and dispatches to [[refresh]] / [[refreshAgg]].
  val MvKindProp = "graft.mv.kind" // "derived" | "agg" | "join"
  val MvSourceProp = "graft.mv.source" // resolved source table dir
  val MvKeyProp = "graft.mv.key" // derived/join: the row key
  val MvRowKeyProp = "graft.mv.row_key" // agg: the SOURCE row identity
  val MvGroupProp = "graft.mv.group_by" // agg: csv of group columns
  val MvValueProp = "graft.mv.value" // agg: the summed value column
  val MvExtremaProp = "graft.mv.extrema" // agg: csv of min/max columns
  val MvWhereProp = "graft.mv.where" // agg: WHERE predicate text
  // agg: one per EXPRESSION-VALUED group key — the SQL text of the
  // bucket expression a derived group column materializes on every
  // snapshot-side read (`graft.mv.group_expr.<name>` → expr text);
  // bare-column groups carry no entry
  val MvGroupExprPrefix = "graft.mv.group_expr."
  // agg: one per EXPRESSION-VALUED measure — the SQL text of the
  // aggregate ARGUMENT a derived value column materializes on every
  // snapshot-side read (`sum(price * (1 - discount)) AS sum_rev`
  // stores `graft.mv.value_expr.rev` → the product's text); bare
  // column measures carry no entry
  val MvValueExprPrefix = "graft.mv.value_expr."
  val MvAvgProp = "graft.mv.avg" // agg: 'true' when avg_<v> is stored
  // agg: csv of approx-distinct columns — each stores adc_<c> (the
  // HLL estimate) plus hll_<c> (the mergeable sketch state, last)
  val MvDistinctProp = "graft.mv.distinct"
  // agg: csv of EXACT distinct-count columns — each stores cd_<c>,
  // maintained by affected-group recompute on EVERY refresh (exact
  // distinct is non-invertible in both directions: an inserted value
  // may already exist, a deleted one may survive on another row)
  val MvExactDistinctProp = "graft.mv.exact_distinct"
  // agg: csv of KLL QUANTILE sketch columns — each stores kll_<c>
  // (mergeable KLL bytes; read quantiles with graft_kll_quantile);
  // maintained like the HLL sketches: inserts merge, loss recomputes
  val MvKllProp = "graft.mv.kll"
  val MvQueryProp = "graft.mv.query" // the AS SELECT text, verbatim
  // join: `;`-separated per-dim fragments, aligned by position and
  // in FROM order — dim dirs, each dim's fk csv, each dim's key csv,
  // each join's type ("inner" | "left"). A two-table view stores one
  // fragment (no `;`), byte-compatible with pre-star specs.
  val MvDimProp = "graft.mv.dim"
  val MvFkProp = "graft.mv.fk"
  val MvDimKeyProp = "graft.mv.dim_key"
  val MvJoinTypeProp = "graft.mv.join_type"
  // user-settable staleness bound (ALTER TABLE SET TBLPROPERTIES):
  // catalog READS of the view refuse when the pin lags the source
  // head by more than this many source commits — see
  // [[freshVersionForRead]]
  val MvMaxStalenessProp = "graft.mv.max-staleness-versions"
  // 'true' flips the over-bound action from REFUSE to AUTO-REFRESH
  // (the Iceberg MV spec's refresh-on-read option): the catalog read
  // advances the view through [[refreshMv]] and serves the NEW head.
  // max-staleness-versions=0 + refresh-on-read=true is the
  // always-fresh spelling; within-bound reads stay cheap (no refresh)
  val MvRefreshOnReadProp = "graft.mv.refresh-on-read"
  val MvPartitionProp = "graft.mv.partition" // destination layout col
  // aggregate-over-join views auto-chain through a HIDDEN silver
  // join view at `<dst>.silver` (a family-suffix sibling, so pooled
  // copies carry it): the gold's spec marks auto_chain so every
  // refresh_mv implicitly cascades through the silver, and the
  // silver names its owner for diagnostics
  val MvAutoChainProp = "graft.mv.auto_chain"
  val MvHiddenSilverOfProp = "graft.mv.hidden_silver_of"
  // DURABLE continuous maintenance: `CALL graft.system.follow_mv`
  // persists the poll interval here, so the follow SURVIVES the
  // session — any later session's first catalog read of the view
  // re-arms a follower (through the staleness memo, costing nothing
  // extra). `unfollow_mv` unsets it; the Scala-API MvFollower.follow
  // stays session-only.
  val MvFollowProp = "graft.mv.follow"
  // aggjoin (direct algebraic aggregate-over-join): the synthesized
  // PROJECTED-SLICE query text — (row key, group…, value…) per
  // surviving joined fact row — that each refresh re-derives the
  // touched keys' join output with; the ORIGINAL definition stays in
  // [[MvQueryProp]]
  val MvSliceProp = "graft.mv.slice"

  /** Freshness state of a materialized view: (pinned source version,
    * source head version, lag). None when `dstDir` is not an MV. The
    * lag counts SOURCE COMMITS — the only monotone unit the pin
    * protocol defines (wall-clock staleness would need commit mtimes,
    * which fs copies and restores rewrite silently). Surfaced live in
    * the catalog's table properties as
    * `graft.mv.source_head_version` / `graft.mv.staleness_versions`
    * beside the pinned version, so `SHOW TBLPROPERTIES` IS the
    * refresh-state view. */
  def refreshState(s: SparkSession,
      dstDir: String): Option[(Int, Int, Int)] = {
    val props = Versioned.properties(s, dstDir)
    if (!props.contains(MvKindProp)) return None
    // non-throwing pin lookup: a buried pin (out-of-band rollback, a
    // foreign note) must DEGRADE the freshness trio to absent, not
    // fail SHOW TBLPROPERTIES / DESCRIBE — the very surfaces one
    // needs to diagnose that state. A join view reports the trio of
    // whichever of its two sources lags MORE (the staleness contract
    // is over the view's WHOLE input) — and only when BOTH pins
    // resolve, the same degrade discipline.
    val legs = refreshLegs(s, dstDir, props)
    if (legs.isEmpty || legs.exists(_._3.isEmpty)) None
    else Some(legs.flatMap { case (_, _, t) => t }.maxBy(_._3))
  }

  /** Per-source freshness legs of a view: (pin key, source dir,
    * Some((pinned version, source head, lag)) — None when that leg's
    * pin is buried). One `src` leg for derived/agg views; `src` +
    * `dim` for join views. */
  private[sources] def refreshLegs(s: SparkSession, dstDir: String,
      props: Map[String, String])
      : Seq[(String, String, Option[(Int, Int, Int)])] =
    legsOver(s, dstDir, legDirsOf(props))

  /** The (pin key → source dir) legs a view's spec declares: one
    * `src` leg, plus one per dim for join views — [[MvDimProp]] is a
    * `;`-separated list (a single dir for the two-table case), whose
    * pin keys are `dim`, `dim2`, `dim3`, … in FROM order (the same
    * fragment names the refresh note carries). */
  private[sources] def legDirsOf(
      props: Map[String, String]): Seq[(String, String)] =
    props.get(MvSourceProp).map("src" -> _).toSeq ++
      props.get(MvDimProp).toSeq.flatMap(_.split(";"))
        .map(_.trim).filter(_.nonEmpty).zipWithIndex.map {
          case (d, i) => (if (i == 0) "dim" else s"dim${i + 1}", d)
        }

  /** [[refreshLegs]] from an already-resolved (pin key → source dir)
    * list — the staleness gate memoizes the dirs beside the bound so
    * a bounded view's hot read path costs pin/head probes only,
    * never a second properties read. The dir rides along so
    * wall-clock staleness can read the unseen commit's timestamp
    * without re-resolving legs. */
  private def legsOver(s: SparkSession, dstDir: String,
      srcs: Seq[(String, String)])
      : Seq[(String, String, Option[(Int, Int, Int)])] =
    srcs.map { case (k, dir) =>
      (k, dir, Versioned.notePin(s, dstDir, k).map { pin =>
        val head = Versioned.currentVersion(s, dir)
        (pin, head, math.max(0, head - pin))
      })
    }

  /** TRANSITIVE freshness legs: the view's own legs, plus — for each
    * source that is ITSELF a materialized view — that source's legs,
    * recursively, keys prefixed by the path (`src.src`, `src.dim`,
    * …). A gold view whose silver source is 50 commits behind the
    * fact table reports that lag here even when gold-vs-silver lag
    * is 0 — the lag a reader actually experiences. Each leg's lag
    * counts ITS OWN source's commits (the only monotone unit each
    * pin protocol defines); the staleness bound gates on the max,
    * i.e. "no hop in my lineage may lag more than N commits of its
    * own upstream". Cycle-guarded (an MV lineage is a DAG by
    * construction — CREATE refuses standing destinations — but
    * out-of-band property edits must not hang the read path). */
  private[sources] def refreshLegsTransitive(s: SparkSession,
      dstDir: String, props: Map[String, String],
      visited: Set[String] = Set.empty)
      : Seq[(String, String, Option[(Int, Int, Int)])] = {
    val dirs = legDirsOf(props)
    legsOver(s, dstDir, dirs) ++ dirs.flatMap { case (k, dir) =>
      if (visited.contains(dir)) Nil
      else transitiveTail(s, k, dir, visited + dstDir + dir)
    }
  }

  /** The transitive continuation below one leg — memoized through
    * [[memoEntry]], so a bounded view's hot read path pays one
    * properties read PER LINEAGE DIR PER HEAD VERSION, not per
    * read. */
  private def transitiveTail(s: SparkSession, k: String, dir: String,
      visited: Set[String])
      : Seq[(String, String, Option[(Int, Int, Int)])] = {
    val subDirs = memoEntry(s, dir).map(_._4).getOrElse(Nil)
    if (subDirs.isEmpty) Nil // a plain table (or empty) ends the walk
    else (legsOver(s, dir, subDirs) ++ subDirs.flatMap {
      case (k2, d2) =>
        if (visited.contains(d2)) Nil
        else transitiveTail(s, k2, d2, visited + d2)
    }).map { case (k2, d2, t) => (s"$k.$k2", d2, t) }
  }

  /** The staleness memo's (head, raw bound, refresh-on-read, leg
    * dirs, MV kind, follow interval) entry for `dir`, filled on miss
    * — None for an empty table. One properties read per dir per head
    * version. Doubles as the DURABLE-FOLLOW re-arm point: a view
    * whose spec carries [[MvFollowProp]] but has no live follower in
    * this JVM gets one armed here — so a restarted session resumes
    * following at its first read of the view, with no extra probe on
    * any path (the containsKey check is the whole cost). */
  private def memoEntry(s: SparkSession, dir: String)
      : Option[(Int, Option[String], Boolean, Seq[(String, String)],
        Option[String], Option[String])] = {
    val head = Versioned.currentVersion(s, dir)
    if (head == 0) return None
    val cached = stalenessMemo.get(dir)
    val e = if (cached != null && cached._1 == head) cached
    else {
      val props = Versioned.properties(s, dir)
      val kind = props.get(MvKindProp)
      val isMv = kind.isDefined
      val b = props.get(MvMaxStalenessProp).filter(_ => isMv)
      val ror = isMv && props.get(MvRefreshOnReadProp)
        .exists(_.trim.equalsIgnoreCase("true"))
      val dirs = if (!isMv) Nil else legDirsOf(props)
      if (stalenessMemo.size > 10000) stalenessMemo.clear()
      val entry = (head, b, ror, dirs, kind,
        props.get(MvFollowProp).filter(_ => isMv))
      stalenessMemo.put(dir, entry)
      entry
    }
    e._6.foreach { raw =>
      val ms = raw.trim.toLongOption.filter(_ > 0).getOrElse(1000L)
      graft.streaming.MvFollower.ensureFollowing(s, dir, ms)
    }
    Some(e)
  }

  // (dir → (view head version, RAW bound text, refresh-on-read,
  // (pin key → source dir) legs, MV kind)) — non-MV and unbounded
  // tables reduce to ONE head-version probe per read after first
  // sight; any commit on the view (including the TBLPROPERTIES change
  // that sets/unsets the bound) bumps the head and refills. The bound
  // memoizes UNPARSED: a malformed value must degrade to no-gate on
  // the non-refusing resolution path (or a typo would brick even the
  // corrective ALTER TABLE) and throw its parse error only where the
  // gate is allowed to refuse. The legs memoize RESOLVED (key, dir)
  // pairs so the over-bound check never re-reads properties; the kind
  // lets the cascade/idle paths answer "is this an MV, of what kind"
  // without one either.
  private val stalenessMemo = new java.util.concurrent
    .ConcurrentHashMap[String,
      (Int, Option[String], Boolean, Seq[(String, String)],
        Option[String], Option[String])]()

  /** Wall-clock staleness from resolved legs: seconds since the
    * OLDEST source commit any lagging leg has not absorbed (the age
    * of the data a reader is missing) — 0 when fully fresh, None
    * when a pin is buried or a lagging leg's unseen commit predates
    * the timestamped ref protocol (degrade to versions-only rather
    * than reporting a confident wrong number). The unit is the
    * commit stamp [[Versioned.commitTimestamp]] — monotone per table
    * by construction, unlike file mtimes. */
  private[sources] def stalenessSecondsFromLegs(s: SparkSession,
      legs: Seq[(String, String, Option[(Int, Int, Int)])])
      : Option[Long] = {
    if (legs.isEmpty || legs.exists(_._3.isEmpty)) return None
    val lagging = legs.collect {
      case (_, dir, Some((pin, _, lag))) if lag > 0 => (dir, pin) }
    if (lagging.isEmpty) return Some(0L)
    val tss = lagging.map { case (dir, pin) =>
      Versioned.commitTimestamp(s, dir, pin + 1) }
    if (tss.exists(_.isEmpty)) None
    else Some(math.max(0L,
      (System.currentTimeMillis() - tss.flatten.min) / 1000L))
  }

  // time-spelled staleness bounds: '30s' / '5m' / '2h' / '1d'
  private val DurationBoundRe = "(?i)^(\\d+)\\s*(s|m|h|d)$".r

  /** A staleness bound is an integer (SOURCE VERSIONS — the exact
    * unit) or a duration (WALL-CLOCK seconds via the commit stamps).
    * None for malformed text. */
  private def parseBound(raw: String): Option[Either[Int, Long]] =
    raw.trim match {
      case DurationBoundRe(n, u) =>
        val mult = u.toLowerCase(java.util.Locale.ROOT) match {
          case "s" => 1L; case "m" => 60L; case "h" => 3600L
          case _ => 86400L
        }
        n.toLongOption.map(v => Right(v * mult))
      case t => t.toIntOption.map(Left(_))
    }

  /** The read-side staleness gate: a view carrying
    * [[MvMaxStalenessProp]] whose lag exceeds the bound REFUSES to
    * serve rather than silently returning stale rows (the Iceberg MV
    * spec's freshness contract) — unless [[MvRefreshOnReadProp]] is
    * set, in which case the read AUTO-REFRESHES the view and serves
    * the new head (the spec's other staleness action; the returned
    * version is what the caller must expand). No-op for plain tables
    * and unbounded views (memoized — one version probe on the read
    * path). `readVersion` is the snapshot the read pinned: an
    * explicit HISTORICAL read (VERSION AS OF / tag below the view
    * head) is exempt — the requested snapshot is immutable and was
    * current when committed; the bound governs reads of the HEAD. A
    * view whose head pin is buried (out-of-band edits) skips the
    * gate rather than bricking reads — the refresh machinery carries
    * its own louder refusal for that state. */
  def freshVersionForRead(s: SparkSession, dstDir: String,
      readVersion: Int, refuseWhenStale: Boolean = true): Int = {
    val (head, rawBound, refreshOnRead, legDirs, _, _) =
      memoEntry(s, dstDir) match {
        case None => return readVersion
        case Some(e) => e
      }
    if (rawBound.isEmpty || readVersion < head) return readVersion
    val bound = rawBound.map { raw =>
      parseBound(raw).getOrElse {
        if (!refuseWhenStale) return readVersion // degrade at load
        throw new IllegalArgumentException(
          s"$MvMaxStalenessProp must be an integer number of " +
            "source versions or a duration like 30s / 5m / 2h / " +
            s"1d, got '$raw'")
      }
    }
    // a view is as stale as its MOST-lagging leg — src or dim…, OWN
    // or TRANSITIVE (a gold view over a lagging silver is stale even
    // at gold-vs-silver lag 0). Computed from the MEMOIZED leg dirs,
    // so the bounded hot path costs pin/head probes (plus one props
    // read per lineage dir per head version), never a per-read
    // properties read.
    val legs = legsOver(s, dstDir, legDirs) ++ legDirs.flatMap {
        case (k, dir) => transitiveTail(s, k, dir, Set(dstDir, dir))
      }
    val worst = legs
      .collect { case (k, _, Some((pin, srcHead, lag))) => (k, pin,
        srcHead, lag) }
      .sortBy(-_._4).headOption
    // a VERSION bound compares the lag directly; a TIME bound
    // compares the age of the oldest unseen source commit (the
    // commit-stamp unit). A time bound over a lagging source that
    // predates stamps refuses on the refusing path (stale and
    // unmeasurable — a silent serve would break the contract) and
    // degrades on the non-refusing one.
    val over: Option[(String, Int, Int, Int, String)] =
      worst.flatMap { case (k, pin, srcHead, lag) =>
        if (lag == 0) None
        else bound.get match {
          case Left(maxV) =>
            if (lag > maxV) Some((k, pin, srcHead, lag,
              s"is $lag source version(s) behind"))
            else None
          case Right(maxS) =>
            stalenessSecondsFromLegs(s, legs) match {
              case Some(age) if age > maxS => Some((k, pin, srcHead,
                lag, s"is $age second(s) behind wall-clock"))
              case Some(_) => None
              case None =>
                if (!refuseWhenStale) return readVersion
                throw new IllegalStateException(
                  s"materialized view at $dstDir lags $lag source " +
                    s"version(s) and its $MvMaxStalenessProp is " +
                    s"time-spelled ('${rawBound.get.trim}'), but a " +
                    "lagging source commit predates timestamped " +
                    "refs — CALL graft.system.refresh_mv once, or " +
                    "use a version-count bound")
            }
        }
      }
    over match {
      case Some((k, pin, srcHead, lag, why)) =>
        if (refreshOnRead) {
          // the read pays the refresh and serves the NEW head — the
          // refresh is idempotent under concurrent readers (a
          // no-op once the pin matches). A FAILING refresh (bound
          // tripped, rolled-back source) degrades on the
          // non-refusing resolution path — ALTER TABLE / SHOW
          // TBLPROPERTIES must keep working to diagnose and fix the
          // very property that is failing — and surfaces its own
          // error only where the gate is allowed to refuse (the
          // scan expansion).
          try {
            // CASCADE: a transitive lag (stale upstream view) can
            // only be cleared upstream-first; own-only refresh would
            // no-op and the read would retry it forever
            refreshMv(s, dstDir, cascade = true)
            val newHead = Versioned.currentVersion(s, dstDir)
            // scan-path race (load already refreshed and captured a
            // head; a source commit landed before expansion): the
            // refresh above advanced the VIEW, but this caller's
            // captured snapshot still reflects the over-bound pin —
            // serving it would break the bound as a hard contract.
            // Refuse with a retry hint instead of silently serving
            // stale under the always-fresh spelling.
            if (refuseWhenStale && newHead > readVersion)
              throw new IllegalStateException(
                s"materialized view at $dstDir went over its " +
                  s"$MvMaxStalenessProp = '${rawBound.get.trim}' " +
                  s"($why) between resolution and scan (concurrent " +
                  "source commits); the view has been " +
                  "auto-refreshed — re-run the query to read the " +
                  "fresh head")
            newHead
          } catch {
            case scala.util.control.NonFatal(_) if !refuseWhenStale =>
              readVersion
          }
        } else if (!refuseWhenStale) readVersion
        else throw new IllegalStateException(
          s"materialized view at $dstDir $why " +
            s"(pinned $k=v$pin, source head v$srcHead), over " +
            s"its $MvMaxStalenessProp = '${rawBound.get.trim}' — " +
            s"CALL graft.system.refresh_mv('$dstDir'), set " +
            s"$MvRefreshOnReadProp = true to refresh on read, or " +
            "raise/unset the bound to read stale")
      case _ => readVersion
    }
  }

  /** [[freshVersionForRead]] for callers that only need the gate's
    * refusal side (no version to advance). */
  def requireFreshEnough(s: SparkSession, dstDir: String,
      readVersion: Option[Int] = None): Unit = {
    freshVersionForRead(s, dstDir,
      readVersion.getOrElse(Versioned.currentVersion(s, dstDir)))
    ()
  }

  /** Refuse engine-level writes INTO a materialized view (SQL DML and
    * INSERT lower through here): an out-of-band edit diverges the
    * view from transform(source), which the NEXT refresh would refuse
    * with a corrupt-pin audit — the eager refusal names the right fix
    * instead. The path-based Scala API stays open: the refresh
    * machinery itself writes through it. */
  def requireNotMv(s: SparkSession, tableDir: String, name: String,
      op: String): Unit =
    require(!Versioned.properties(s, tableDir).contains(MvKindProp),
      s"$name is a materialized view maintained from its source's " +
        s"changelog — $op would diverge it from its definition (the " +
        "next refresh refuses with a corrupt-pin error); edit the " +
        "SOURCE table and CALL graft.system.refresh_mv, or DROP " +
        "MATERIALIZED VIEW first")

  /** A view's declared destination layout: PARTITIONED BY (c) is an
    * identity transform on `c`, the same declared-spec channel as
    * CREATE TABLE … PARTITIONED BY — currentTransform / DESCRIBE /
    * SHOW PARTITIONS all see it, and every refresh commit re-declares
    * it so the layout never silently decays to unpartitioned. */
  private def layoutOf(partitionCol: Option[String])
      : Option[Versioned.Transform] =
    partitionCol.map(c => Versioned.Transform.Identity(c))

  /** A stored view query must be DETERMINISTIC: the incremental
    * refresh re-runs it over touched rows only, so a rand()/uuid()
    * in the projection or WHERE would re-sample per refresh and the
    * view silently diverges from any recompute (the same contract
    * [[refreshAgg]] enforces on its WHERE). The check runs
    * post-analysis — where functions are resolved — over a plan
    * whose table references substitute with EMPTY LOCAL STUBS of the
    * source schemas, so every nondeterministic expression found is
    * the query's OWN: a real input frame's plan may legitimately
    * carry nondeterministic internals (metadata projections, salts)
    * that must not fail a perfectly deterministic view. The sweep
    * covers EVERY node's expressions — the refresh_* procedures
    * accept arbitrary SQL, so a rand() in a join condition, a
    * DISTRIBUTE BY, or an aggregate/window argument must refuse the
    * same as one in SELECT/WHERE. */
  private[sources] def requireDeterministicOver(stubbed: DataFrame,
      queryText: String): Unit = {
    val bad = stubbed.queryExecution.analyzed.collect {
      case n if n.expressions.exists(!_.deterministic) => n.nodeName
    }.distinct
    require(bad.isEmpty,
      s"the view query's ${bad.mkString("/")} is nondeterministic — " +
        "each incremental refresh would re-sample it over the " +
        s"touched rows and the view silently diverges: $queryText")
  }

  /** An empty frame with `schema` — the determinism check's stub. */
  private[sources] def stubOf(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schema)

  /** The row-pure transform a DERIVED materialized view persists: the
    * stored query text re-parses at each refresh and its single table
    * reference is substituted with the refresh's input frame (full
    * source at bootstrap, reduced changed rows incrementally) — plan
    * substitution, not text substitution, so no identifier quoting
    * can break it. The frame aliases as the relation's last name part
    * so `src.col` references keep resolving. */
  def mvTransform(s: SparkSession,
      queryText: String): DataFrame => DataFrame = df => {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val parsed = s.sessionState.sqlParser.parsePlan(queryText)
    def substituted(frame: DataFrame): (org.apache.spark.sql.catalyst
        .plans.logical.LogicalPlan, Int) = {
      var hits = 0
      val replaced = parsed.transformUp {
        case u: UnresolvedRelation =>
          hits += 1
          SubqueryAlias(u.multipartIdentifier.last,
            frame.queryExecution.analyzed)
      }
      (replaced, hits)
    }
    val (stub, hits) = substituted(stubOf(s, df.schema))
    require(hits == 1, s"the stored materialized-view query must " +
      s"read exactly one table, found $hits: $queryText")
    requireDeterministicOver(
      org.apache.spark.sql.graft.SparkInternals.ofRows(s, stub),
      queryText)
    org.apache.spark.sql.graft.SparkInternals.ofRows(s,
      substituted(df)._1)
  }

  /** The two-table transform a JOIN materialized view persists: the
    * stored query re-parses at each refresh and its two table
    * references substitute with the refresh's input frames — the
    * FIRST relation in the FROM clause is the fact (the side whose
    * touched slice varies per refresh), the second the dim (always
    * the full pinned snapshot). Same plan-substitution discipline as
    * [[mvTransform]]; relations match by their written identifier, so
    * a self-join (identical identifiers) is refused at CREATE. */
  def mvJoinTransform(s: SparkSession,
      queryText: String): (DataFrame, DataFrame) => DataFrame =
    (factDf, dimDf) =>
      mvJoinTransformStar(s, queryText)(factDf, Seq(dimDf))

  /** N-dim [[mvJoinTransform]]: the FIRST relation in the FROM
    * clause is the fact, the rest are the dims IN FROM ORDER (the
    * same order `collect` yields over the left-deep join tree). */
  def mvJoinTransformStar(s: SparkSession,
      queryText: String): (DataFrame, Seq[DataFrame]) => DataFrame =
    (factDf, dimDfs) => {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
      import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
      val parsed = s.sessionState.sqlParser.parsePlan(queryText)
      val rels = parsed.collect { case u: UnresolvedRelation =>
        u.multipartIdentifier }
      require(rels.length == 1 + dimDfs.length &&
        rels.distinct.length == rels.length,
        s"the stored join-view query must read exactly " +
          s"${1 + dimDfs.length} distinct tables, found " +
          s"${rels.length}: $queryText")
      val frames = rels.zip(factDf +: dimDfs).toMap
      def substituted(fs: Map[Seq[String], DataFrame]) =
        parsed.transformUp {
          case u: UnresolvedRelation =>
            SubqueryAlias(u.multipartIdentifier.last,
              fs(u.multipartIdentifier).queryExecution.analyzed)
        }
      requireDeterministicOver(
        org.apache.spark.sql.graft.SparkInternals.ofRows(s,
          substituted(frames.map { case (k, v) =>
            k -> stubOf(s, v.schema) })),
        queryText)
      org.apache.spark.sql.graft.SparkInternals.ofRows(s,
        substituted(frames))
    }

  /** Argument-free refresh: read the spec back from `dstDir`'s
    * properties and advance the view. Returns (kind, from, to).
    * `cascade = true` first refreshes every source that is ITSELF a
    * materialized view, recursively (upstream-first — the only order
    * that clears TRANSITIVE staleness: refreshing gold against a
    * stale silver just bakes the stale rows in); a fresh upstream
    * no-ops at two metadata probes. */
  def refreshMv(s: SparkSession, dstDir: String,
      cascade: Boolean = false): (String, Int, Int) =
    refreshMvGuarded(s, dstDir, cascade, Set(dstDir))

  private def refreshMvGuarded(s: SparkSession, dstDir: String,
      cascade: Boolean, visited: Set[String]): (String, Int, Int) = {
    // idle fast path: when every pin in the lineage (own AND
    // transitive) sits EXACTLY at its source's head there is nothing
    // to refresh at any hop — a follower polling a fresh chain pays
    // pin/head probes only (one properties read per lineage dir per
    // HEAD VERSION via the memo, never one per tick). Strict equality
    // on purpose: a pin BEYOND the head (rolled-back source) or a
    // buried pin (None leg) falls through to the slow path so its
    // loud refusal still fires.
    memoEntry(s, dstDir) match {
      case Some((_, _, _, dirs, Some(kind), _)) if dirs.nonEmpty =>
        val legs = legsOver(s, dstDir, dirs) ++ dirs.flatMap {
          case (k, d) => transitiveTail(s, k, d, Set(dstDir, d)) }
        if (legs.forall(_._3.exists(t => t._1 == t._2))) {
          val pin = legs.head._3.get._1 // the src leg, per legDirsOf
          return (kind, pin, pin)
        }
      case _ =>
    }
    val props = Versioned.properties(s, dstDir)
    val kind = props.getOrElse(MvKindProp,
      throw new IllegalArgumentException(
        s"$dstDir is not a materialized view (no $MvKindProp " +
          "property) — create one with CREATE MATERIALIZED VIEW … " +
          "AS SELECT, or call refresh_derived/refresh_agg with an " +
          "explicit spec"))
    // an auto-chained view (aggregate-over-join gold) ALWAYS
    // cascades: its silver is hidden machinery the caller cannot be
    // expected to refresh by name
    val doCascade = cascade ||
      props.get(MvAutoChainProp).exists(_.trim.equalsIgnoreCase("true"))
    // the is-this-an-MV probe per leg goes through the memo — the
    // cascade's hot loop must not pay a properties read per tick for
    // legs that are plain tables (or fresh MVs, which the recursion's
    // own fast path then no-ops)
    if (doCascade) legDirsOf(props).foreach { case (_, d) =>
      if (!visited.contains(d) &&
          memoEntry(s, d).exists(_._5.isDefined))
        refreshMvGuarded(s, d, cascade = true, visited + d)
    }
    val src = props(MvSourceProp)
    val pCol = props.get(MvPartitionProp).filter(_.nonEmpty)
    kind match {
      case "derived" =>
        val (f, t) = refresh(s, src, dstDir, props(MvKeyProp),
          mvTransform(s, props(MvQueryProp)), partitionCol = pCol)
        ("derived", f, t)
      case "agg" =>
        val ext = props.get(MvExtremaProp).toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty)
        val groups = props(MvGroupProp).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val gExprs = groups.flatMap(g =>
          props.get(MvGroupExprPrefix + g).map(g -> _))
        // MvValueProp is a csv (multi-measure views); MvAvgProp is a
        // csv of value columns, with the legacy spelling 'true'
        // meaning avg of the first (then only) value
        // MvValueProp may be EMPTY — the count-only rollup stores no
        // sum/cnt pair at all
        val vals = props(MvValueProp).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val avs = props.get(MvAvgProp).map(_.trim).toSeq.flatMap {
          case t if t.equalsIgnoreCase("true") => vals.headOption.toSeq
          case t => t.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        }
        val dis = props.get(MvDistinctProp).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val cds = props.get(MvExactDistinctProp).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val kll = props.get(MvKllProp).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val vExprs = props.collect {
          case (k, v) if k.startsWith(MvValueExprPrefix) =>
            (k.stripPrefix(MvValueExprPrefix), v) }.toSeq
        val (f, t) = refreshAgg(s, src, dstDir, props(MvRowKeyProp),
          groups, vals.headOption.getOrElse(""), extrema = ext,
          where = props.get(MvWhereProp).filter(_.nonEmpty),
          partitionCol = pCol, groupExprs = gExprs,
          moreValues = vals.drop(1), avgCols = avs,
          distinctCols = dis,
          exactDistinctCols = cds, kllCols = kll,
          valueExprs = vExprs)
        ("agg", f, t)
      case "join" | "aggjoin" =>
        // the refresh reports the FACT range (the stream side); a
        // dim-only delta shows (factTo, factTo) but still republishes.
        // Multi-dim specs store `;`-separated per-dim fragments (a
        // single-dim spec has no `;` and parses as one leg).
        def semi(v: String) = v.split(";").map(_.trim)
          .filter(_.nonEmpty).toSeq
        def csv(v: String) = v.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val dims = semi(props(MvDimProp))
          .zip(semi(props(MvFkProp)).map(csv))
          .zip(semi(props(MvDimKeyProp)).map(csv))
          .map { case ((d, fk), dk) => JoinDim(d, fk, dk) }
        if (kind == "join") {
          val ((f, t), _) = refreshJoinStar(s, src, dims,
            dstDir, props(MvKeyProp),
            mvJoinTransformStar(s, props(MvQueryProp)),
            partitionCol = pCol)
          ("join", f, t)
        } else {
          // direct algebraic aggregate-over-join: the slice text
          // re-derives touched keys' join output, aggDeltaApply
          // patches the gold — no silver, one commit
          val avs = props.get(MvAvgProp).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          val (f, t) = refreshAggJoin(s, src, dims, dstDir,
            props(MvRowKeyProp),
            mvJoinTransformStar(s, props(MvSliceProp)),
            csv(props(MvGroupProp)), csv(props(MvValueProp)),
            avgs = avs, partitionCol = pCol)
          ("aggjoin", f, t)
        }
      case other => throw new IllegalStateException(
        s"unknown $MvKindProp '$other' at $dstDir")
    }
  }

  /** Run independent gate legs from a small thread pool (guide §2.6:
    * overlap independent jobs). The MV lifecycle gates maintain two
    * or more views over the SAME immutable source snapshot; each
    * refresh is ~half driver-side gaps (planning/FS/commit between
    * ~1-task jobs, measured with [[graft.tools.QueryJobs]]), so
    * overlapping two legs hides one leg's driver gaps behind the
    * other's jobs — Spark's scheduler runs concurrent actions fine,
    * and the commit protocol is per-table (distinct destinations
    * never contend for a version slot). 2-3 legs in flight is the
    * guide's sweet spot: enough to fill the gaps, not a fight for
    * cores. Failures rethrow to the caller. */
  private def concurrently[T](thunks: (() => T)*): Seq[T] =
    graft.tools.Overlap.concurrently(thunks: _*)

  /** Row-for-row BAG equality (duplicates counted) in ONE shuffle:
    * the two frames' signed difference ([[Versioned.signedNet]], the
    * same pass [[Versioned.readChanges]] nets rewrites with) is empty
    * — replacing the gates' former two-direction `exceptAll` (four
    * scans, two shuffles) with one aggregation. Null values group
    * natively, so null-keyed rows compare correctly. */
  def bagEqual(a: DataFrame, b: DataFrame): Boolean =
    Versioned.signedNet(a, b).isEmpty

  /** Above this many point values the readWhereIn pruning expression
    * grows codegen-hostile AND its selectivity collapses (most files
    * contain SOME value), so the tiered read switches to a broadcast
    * semi-join over the plain snapshot scan — faster and the
    * scale-correct plan. */
  private val PruneKeyLimit = 1000

  /** The tiered point read shared by every refreshAgg leg: a SMALL
    * key set (≤ [[PruneKeyLimit]], by `nKeys` — a COUNT, the only
    * thing the driver ever holds for the decision) collects its
    * FIRST-column values and goes through [[Versioned.readWhereIn]]
    * manifest pruning (O(files containing the values)); a large one
    * never materializes keys on the driver at all — it semi-joins
    * the snapshot scan against the broadcast `keysDf` (the key
    * columns, bounded by maxTouchedKeys). With a composite key the
    * IN-pruned read is a first-column superset, so the semi-join on
    * the full tuple runs in that tier too. */
  private def pointRead(s: SparkSession, dir: String,
      keyCols: Seq[String], nKeys: Long, smallVals: => Seq[Any],
      version: Option[Int], keysDf: DataFrame): DataFrame = {
    val base =
      if (nKeys <= PruneKeyLimit)
        Versioned.readWhereIn(s, dir, keyCols.head, smallVals, version)
      else Versioned.read(s, dir, version)
    if (nKeys <= PruneKeyLimit && keyCols.lengthCompare(1) == 0) base
    else base.join(broadcast(keysDf), keyCols, "left_semi")
  }

  private def pinnedSrcVersion(s: SparkSession, dstDir: String): Int =
    Versioned.notePin(s, dstDir, "src")
      .getOrElse(throw new IllegalStateException(
        s"$dstDir exists but its head commit carries no src=v pin — " +
          "not a derived table (refresh would corrupt it); use a " +
          "fresh destination directory"))

  /** Advance `dstDir` to reflect `transform` applied to `srcDir`'s
    * current snapshot. Bootstraps (full build) when `dstDir` has no
    * committed version; no-ops when the pin already matches the
    * source head. Returns (fromVersion, toVersion) processed —
    * (to, to) for the no-op, (0, to) for the bootstrap. */
  def refresh(s: SparkSession, srcDir: String, dstDir: String,
      key: String, transform: DataFrame => DataFrame,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty): (Int, Int) = {
    val to = Versioned.currentVersion(s, srcDir)
    require(to > 0, s"no committed source version at $srcDir")
    val dstV = Versioned.currentVersion(s, dstDir)
    if (dstV == 0) {
      // pinned to `to`: the state the note claims is the state read
      val full = transform(Versioned.read(s, srcDir, Some(to)))
      require(full.columns.contains(key),
        s"transform must preserve the key column '$key'")
      // every destination commit declares key stats: applyChanges
      // prunes its touched-file probe with the batch's key range, so
      // an append-mostly source (monotone keys) refreshes WITHOUT
      // scanning the standing destination — O(candidate files)
      // bootstrapProps ride THIS commit (CREATE MATERIALIZED VIEW's
      // spec persistence): one atomic publish carries data, pin, and
      // spec — no window where the table exists without its identity
      Versioned.commit(full, dstDir,
        note = Some(s"src=v$to"), statsCols = Seq(key),
        transform = layoutOf(partitionCol),
        props = Some(bootstrapProps).filter(_.nonEmpty))
      return (0, to)
    }
    val from = pinnedSrcVersion(s, dstDir)
    require(from <= to, s"$dstDir pins src=v$from beyond the source " +
      s"head v$to — the source was rolled back or replaced; rebuild " +
      "into a fresh destination")
    if (from == to) return (to, to)
    val events = Versioned.readChanges(s, srcDir, from, to)
    // reduce the range to each key's FINAL state. Within one commit a
    // copy-on-write update surfaces as delete(old)+insert(new) at the
    // SAME version, so the tie-break must let the insert win; across
    // commits the version decides.
    val isIns = col(Versioned.ChangeTypeCol) === lit("insert")
    // persisted around the fan-out: applyChanges runs ~6 independent
    // actions (preflight count/range, emptiness probes, the overlap
    // check, the rewrite) and each would otherwise re-execute the
    // changelog read + this shuffle + the transform from scratch
    val last = events.groupBy(col(key))
      .agg(max_by(struct(events.columns.map(col): _*),
        struct(col(Versioned.CommitVersionCol),
          when(isIns, 1).otherwise(0))).as("e"))
      .select(col("e.*"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lastIns = last.filter(isIns)
        .drop(Versioned.ChangeTypeCol, Versioned.CommitVersionCol)
      val transformed = transform(lastIns)
      require(transformed.columns.contains(key),
        s"transform must preserve the key column '$key'")
      // a changed row the transform now FILTERS OUT must leave the
      // destination — it may have passed under its previous values
      val filteredOut = lastIns.select(col(key))
        .join(transformed.select(col(key)), Seq(key), "left_anti")
      val dels = last.filter(!isIns).select(col(key))
        .unionByName(filteredOut).distinct()
      // the pin advances exactly when a commit lands (note and data
      // are one publish). A range of METADATA-ONLY source commits
      // (renames, tags) yields no events and no commit, so the pin
      // holds at `from` — the next refresh re-walks the same range,
      // which is safe (upsert-by-key and delete-by-key are
      // idempotent) and O(that range's deltas), not a recompute.
      Versioned.applyChanges(s, dstDir, upserts = transformed,
        deleteKeys = dels, key = key,
        transform = layoutOf(partitionCol),
        statsCols = Seq(key), note = Some(s"src=v$to"))
    } finally last.unpersist(blocking = false)
    (from, to)
  }

  /** Incrementally maintained JOIN view — the enrichment twin of
    * [[refresh]]: `dstDir` holds `transform(fact, dim)` for an
    * N:1 equi-join `fact.fkCol = dim.dimKey` (INNER or LEFT OUTER —
    * the join type lives inside the transform's plan), keyed by the
    * FACT row identity `key`, advanced per refresh from the
    * changelogs of BOTH sides:
    *
    *  - fact events name touched fact keys directly;
    *  - dim events name touched dim keys, and the fact rows they
    *    affect are exactly the pinned fact snapshot's rows whose
    *    `fkCol` is in that set — read via the same tiered point-read
    *    as every other leg (O(files containing the values), never a
    *    fact rescan);
    *  - the UNION of those fact keys re-derives: their rows at the
    *    pinned fact `to` join the full pinned dim `to`, the query's
    *    projection/WHERE apply, and the result upserts by `key`; a
    *    re-derived key with NO output row (fact row deleted, filtered
    *    out, or its dim match gone under INNER) deletes.
    *
    * Both pins travel in ONE commit note (`src=vN;dim=vM` — the
    * fragment discipline [[Versioned.notePin]] already parses), so a
    * crashed refresh never half-advances either cursor.
    *
    * Contract on `transform`: row-pure with respect to the PAIR —
    * each output row derives from one fact row and its single dim
    * match (nulls on the dim side under LEFT OUTER), preserves `key`,
    * and may drop rows. `dimKey` must stay UNIQUE in the dim: the
    * destination stores one row per fact key, which a 1:N dim match
    * cannot satisfy — bootstrap audits the whole dim once, each
    * refresh audits exactly the touched dim keys, and a duplicate
    * that slips between audits still cannot commit (the CDC apply
    * refuses duplicate upsert keys).
    *
    * Scale shape per refresh: two changelog reads over the deltas,
    * one point-read of dim-affected fact rows keyed on `fkCol`, one
    * point-read of re-derived fact rows keyed on `key`, one
    * slice-vs-dim join (Catalyst broadcasts the dim when it is small
    * — the common star-schema case) evaluated once and persisted
    * for the apply's actions, one CoW/MoR commit. Nothing
    * scales with either table's total size; `maxTouchedKeys` bounds
    * the refresh like [[refreshAgg]]. Returns the processed
    * ((factFrom, factTo), (dimFrom, dimTo)). */
  def refreshJoin(s: SparkSession, factDir: String, dimDir: String,
      dstDir: String, key: String, fkCol: String, dimKey: String,
      transform: (DataFrame, DataFrame) => DataFrame,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty)
      : ((Int, Int), (Int, Int)) =
    refreshJoinKeys(s, factDir, dimDir, dstDir, key, Seq(fkCol),
      Seq(dimKey), transform, maxTouchedKeys, partitionCol,
      bootstrapProps)

  /** Composite-key [[refreshJoin]]: the join identity is the column
    * TUPLE `fact.(fkCols…) = dim.(dimKeys…)` (aligned by position —
    * `ON f.a = d.x AND f.b = d.y`). Same algebra end to end: dim
    * events name touched dim-key tuples, the affected-fact point read
    * semi-joins the full tuple (manifest range pruning on the FIRST
    * fk column, like every tuple-keyed path here), uniqueness is a
    * tuple invariant. */
  def refreshJoinKeys(s: SparkSession, factDir: String, dimDir: String,
      dstDir: String, key: String, fkCols: Seq[String],
      dimKeys: Seq[String],
      transform: (DataFrame, DataFrame) => DataFrame,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty)
      : ((Int, Int), (Int, Int)) = {
    val (f, ds) = refreshJoinStar(s, factDir,
      Seq(JoinDim(dimDir, fkCols, dimKeys)), dstDir, key,
      (fact, dims) => transform(fact, dims.head),
      maxTouchedKeys, partitionCol, bootstrapProps)
    (f, ds.head)
  }

  /** One dimension leg of a STAR join view: its table dir and the
    * positionally aligned `fact.(fkCols…) = dim.(dimKeys…)` tuple. */
  final case class JoinDim(dir: String, fkCols: Seq[String],
      dimKeys: Seq[String])

  /** N-dimension [[refreshJoinKeys]] — the star-schema enrichment
    * view `fact ⋈ d1 ⋈ d2 ⋈ …` (each join N:1, INNER or LEFT inside
    * the transform's plan), maintained from ALL changelogs: each dim
    * leg's events locate their affected fact rows through that leg's
    * fk point read, the union of affected + fact-event keys
    * re-derives ONCE against every pinned dim, and the commit note
    * carries one pin fragment per source (`src=vN;dim=vA;dim2=vB;…`
    * — the [[legDirsOf]] key convention) so a crashed refresh never
    * half-advances any cursor. Per-leg contracts are
    * [[refreshJoinKeys]]'s: touched-tuple uniqueness audits, null
    * dim-key refusals, the touched-key bound. Scale shape: one
    * changelog read per source, one affected-fact point read per
    * CHANGED dim leg (an idle leg costs two metadata probes), one
    * slice-vs-dims join evaluated ONCE (persisted across the apply's
    * preflight, provenance probe, rewrite and tombstone write), one
    * CoW/MoR commit. */
  def refreshJoinStar(s: SparkSession, factDir: String,
      dims: Seq[JoinDim], dstDir: String, key: String,
      transform: (DataFrame, Seq[DataFrame]) => DataFrame,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty)
      : ((Int, Int), Seq[(Int, Int)]) = {
    val (to1, tos, note, pinned) = starWindow(s, factDir, dims, dstDir)
    def dimAt(i: Int) = Versioned.read(s, dims(i).dir, Some(tos(i)))
    if (pinned.isEmpty) {
      dims.indices.foreach(i => requireDimUniqueIn(dims(i), dimAt(i)))
      val full = transform(Versioned.read(s, factDir, Some(to1)),
        dims.indices.map(dimAt))
      require(full.columns.contains(key),
        s"the join-view query must preserve the key column '$key'")
      Versioned.commit(full, dstDir, note = Some(note),
        statsCols = Seq(key), transform = layoutOf(partitionCol),
        props = Some(bootstrapProps).filter(_.nonEmpty))
      return ((0, to1), tos.map(0 -> _))
    }
    val (from1, froms) = pinned.get
    if (from1 == to1 && froms == tos)
      return ((to1, to1), tos.map(v => (v, v)))
    affectedFactKeys(s, factDir, dims, key, from1, to1, froms, tos,
      maxTouchedKeys) { (kDf, nK, kProbe) =>
      if (nK == 0) {
        // metadata-only commits on every side: advance the pins
        // with a note-only commit (the dead-range discipline)
        Versioned.commitNote(s, dstDir, note)
      } else {
        val factSlice = pointRead(s, factDir, Seq(key), nK,
          kProbe.map(_.get(0)).toSeq, Some(to1), kDf)
        // persisted around the apply like [[refresh]]'s `last`: the
        // preflight, the provenance probe, the rewrite and the
        // tombstone write each consume the slice, and would otherwise
        // re-run the fact point read and the dim join per action
        val newRows = transform(factSlice, dims.indices.map(dimAt))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          require(newRows.columns.contains(key),
            s"the join-view query must preserve the key column '$key'")
          val dels = kDf.join(newRows.select(col(key)), Seq(key),
            "left_anti")
          Versioned.applyChanges(s, dstDir, upserts = newRows,
            deleteKeys = dels, key = key,
            transform = layoutOf(partitionCol),
            statsCols = Seq(key), note = Some(note))
        } finally newRows.unpersist(blocking = false)
      }
    }
    ((from1, to1), froms.zip(tos))
  }

  /** The star refresh WINDOW: head versions, the multi-pin note text
    * (`src=vN;dim=vA;dim2=vB;…`), and — when the destination stands —
    * the pinned versions: (factTo, dimTos, note, Some((factFrom,
    * dimFroms)) or None for a bootstrap). Validates the dim shapes,
    * refuses missing pins and rolled-back sources — the ONE
    * definition of the pin protocol both the materialized join view
    * and the direct aggregate-over-join share. */
  private def starWindow(s: SparkSession, factDir: String,
      dims: Seq[JoinDim], dstDir: String)
      : (Int, Seq[Int], String, Option[(Int, Seq[Int])]) = {
    require(dims.nonEmpty, "a star refresh needs at least one dim")
    require(dims.map(_.dir).distinct.length == dims.length,
      "dim tables must be distinct (a dim joined twice needs two " +
        "aliases of two physical tables)")
    dims.foreach { dm =>
      require(dm.fkCols.nonEmpty &&
        dm.fkCols.length == dm.dimKeys.length,
        s"join keys must align by position, got fact (${dm.fkCols
          .mkString(", ")}) vs dim (${dm.dimKeys.mkString(", ")})")
      require(dm.fkCols.distinct.length == dm.fkCols.length &&
        dm.dimKeys.distinct.length == dm.dimKeys.length,
        s"join key columns must be distinct, got fact (${dm.fkCols
          .mkString(", ")}) vs dim (${dm.dimKeys.mkString(", ")})")
    }
    val pinKeys = dims.indices.map(i => if (i == 0) "dim"
      else s"dim${i + 1}")
    val to1 = Versioned.currentVersion(s, factDir)
    require(to1 > 0, s"no committed fact version at $factDir")
    val tos = dims.map { dm =>
      val v = Versioned.currentVersion(s, dm.dir)
      require(v > 0, s"no committed dim version at ${dm.dir}")
      v
    }
    val note = (s"src=v$to1" +: pinKeys.zip(tos).map {
      case (k, v) => s"$k=v$v" }).mkString(";")
    if (Versioned.currentVersion(s, dstDir) == 0)
      return (to1, tos, note, None)
    val from1 = pinnedSrcVersion(s, dstDir)
    val froms = pinKeys.map(k => Versioned.notePin(s, dstDir, k)
      .getOrElse(throw new IllegalStateException(
        s"$dstDir pins src=v$from1 but carries no $k=v pin — not a " +
          "join view of this shape (refresh would corrupt it); use " +
          "a fresh destination directory")))
    require(from1 <= to1 && froms.zip(tos).forall { case (f, t) =>
      f <= t },
      s"$dstDir pins src=v$from1/${pinKeys.zip(froms).map { case (k,
        f) => s"$k=v$f" }.mkString("/")} beyond the source heads " +
        s"v$to1/${tos.mkString("/")} — a source was rolled back or " +
        "replaced; rebuild into a fresh destination")
    (to1, tos, note, Some((from1, froms)))
  }

  /** Direct ALGEBRAIC aggregate-over-join maintenance — the gold
    * rollup `SELECT g…, sum(v)… FROM fact ⋈ dims GROUP BY g…`
    * maintained WITHOUT materializing the join (no hidden silver, no
    * second copy of the fact stream, ONE commit per refresh):
    *
    *  - the affected fact keys come from the same per-leg algebra as
    *    [[refreshJoinStar]] (fact changelog keys ∪ each changed dim
    *    leg's fk point read — [[affectedFactKeys]]);
    *  - the OLD side re-derives those keys' join output at the
    *    PINNED versions (fact `from` ⋈ dims at their `from` pins),
    *    the NEW side at the heads — time travel makes both exact;
    *  - the signed union patches the gold groups through the shared
    *    [[aggDeltaApply]], the same algebra the single-table
    *    aggregate view runs.
    *
    * `slice` is the projected join stream — (rowKey, group…, value…)
    * per surviving fact row ([[mvJoinTransformStar]] over the
    * synthesized slice text). Limited to INVERTIBLE measures
    * (sum/cnt/avg): extrema and approx-distinct need an
    * affected-group recompute whose input is a fact-wide join — those
    * shapes keep the hidden-silver auto-chain, whose silver point
    * reads make the recompute O(touched groups). */
  def refreshAggJoin(s: SparkSession, factDir: String,
      dims: Seq[JoinDim], dstDir: String, rowKey: String,
      slice: (DataFrame, Seq[DataFrame]) => DataFrame,
      groupCols: Seq[String], values: Seq[String],
      avgs: Seq[String] = Nil,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty): (Int, Int) = {
    partitionCol.foreach(c => require(groupCols.contains(c),
      s"partition column '$c' must be one of the group columns " +
        s"(${groupCols.mkString(", ")}) — the view stores one row " +
        "per group"))
    val (to1, tos, note, pinned) = starWindow(s, factDir, dims, dstDir)
    def dimsAt(vs: Seq[Int]): Seq[DataFrame] =
      dims.indices.map(i => Versioned.read(s, dims(i).dir,
        Some(vs(i))))
    def aggOf(df: DataFrame): DataFrame = {
      val aggs = values.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"),
        count(col(c)).as(s"cnt_$c"))) :+ count(lit(1)).as("n_rows")
      val base = df.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      if (avgs.isEmpty) base
      else base.select((groupCols.map(col) ++
        values.flatMap(c => Seq(col(s"sum_$c"), col(s"cnt_$c"))) ++
        Seq(col("n_rows")) ++ avgExprsOf(avgs)): _*)
    }
    if (pinned.isEmpty) {
      dims.indices.foreach(i => requireDimUniqueIn(dims(i),
        Versioned.read(s, dims(i).dir, Some(tos(i)))))
      val full = aggOf(slice(Versioned.read(s, factDir, Some(to1)),
        dimsAt(tos)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        require(full.filter(groupCols.map(col(_).isNull)
            .reduce(_ || _)).isEmpty,
          s"null '${groupCols.mkString(", ")}' group — filter or " +
            "coalesce the group columns (an unmatched LEFT-join " +
            "fact row groups as null) before aggregating")
        Versioned.commit(full, dstDir, note = Some(note),
          statsCols = Seq(groupCols.head),
          transform = layoutOf(partitionCol),
          props = Some(bootstrapProps).filter(_.nonEmpty))
      } finally full.unpersist(blocking = false)
      return (0, to1)
    }
    val (from1, froms) = pinned.get
    if (from1 == to1 && froms == tos) return (to1, to1)
    affectedFactKeys(s, factDir, dims, rowKey, from1, to1, froms, tos,
      maxTouchedKeys) { (kDf, nK, kProbe) =>
      if (nK == 0) Versioned.commitNote(s, dstDir, note)
      else {
        // the touched keys' join output at the OLD pins vs the NEW
        // heads — the signed union nets rows that entered/left the
        // join (dim deletes under INNER, fk moves, fact edits) the
        // same way the single-table path nets filter crossings
        def sideAt(factV: Int, dimVs: Seq[Int]): DataFrame =
          slice(pointRead(s, factDir, Seq(rowKey), nK,
            kProbe.map(_.get(0)).toSeq, Some(factV), kDf),
            dimsAt(dimVs)).drop(rowKey)
        aggDeltaApply(s, dstDir, groupCols, values, Nil, avgs, Nil,
          sideAt(from1, froms), sideAt(to1, tos),
          (_, _, _) => throw new IllegalStateException(
            "unreachable: no extrema or distinct measures in the " +
              "direct aggregate-over-join path"),
          note, s"src=v$from1", s"src=v$to1", partitionCol)
      }
    }
    (from1, to1)
  }
  private def requireDimUniqueIn(dm: JoinDim, slice: DataFrame): Unit =
    require(slice.groupBy(dm.dimKeys.map(col): _*)
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1L).isEmpty,
      s"dim key '${dm.dimKeys.mkString(", ")}' is not unique " +
        s"in ${dm.dir} — a join view stores one row per fact " +
        "key, which a 1:N dim match cannot satisfy; dedupe the " +
        "dim or key it differently")

  /** The union of fact keys whose JOIN OUTPUT may change over a
    * refresh window — the star-refresh leg algebra shared by the
    * materialized join view ([[refreshJoinStar]]) and the direct
    * aggregate-over-join view ([[refreshAggJoin]]): fact changelog
    * keys plus, per CHANGED dim leg, the pinned fact snapshot's rows
    * whose fk tuple is in that leg's touched dim keys (tiered point
    * read — an idle leg contributes nothing and costs nothing). Each
    * changed leg's touched dim keys are uniqueness-audited eagerly.
    * The limit-probe fold serves count, null check, and IN-tier
    * values in one job (the refreshAgg discipline); dim events with
    * a null dim key refuse — an equality tombstone keyed on another
    * column can't locate its affected fact rows. `use` runs with the
    * persisted distinct key frame, its count, and the ≤ limit+1
    * probe rows; every persist is released after. */
  private def affectedFactKeys[T](s: SparkSession, factDir: String,
      dims: Seq[JoinDim], key: String, from1: Int, to1: Int,
      froms: Seq[Int], tos: Seq[Int], maxTouchedKeys: Int)
      (use: (DataFrame, Long,
        Array[org.apache.spark.sql.Row]) => T): T = {
    var affected: Seq[DataFrame] = Nil
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try {
      dims.indices.foreach { i =>
        val dm = dims(i)
        if (tos(i) > froms(i)) {
          val dimKeyStr = dm.dimKeys.mkString(", ")
          val asFk = dm.dimKeys.zip(dm.fkCols).map { case (d, f) =>
            col(d).as(f) }
          val tdDf = Versioned.readChanges(s, dm.dir, froms(i), tos(i))
            .select(asFk: _*).distinct()
            .persist(org.apache.spark.storage.StorageLevel
              .MEMORY_AND_DISK)
          persisted += tdDf
          val tdProbe = tdDf.limit(PruneKeyLimit + 1).collect()
          val tdSmall = tdProbe.length <= PruneKeyLimit
          val allIdx = dm.fkCols.indices
          val (nTd, nTdNonNull) =
            if (tdSmall) (tdProbe.length.toLong,
              tdProbe.count(r => allIdx.forall(j => !r.isNullAt(j)))
                .toLong)
            else {
              val t = tdDf.agg(count(lit(1)).as("n"),
                count(when(dm.fkCols.map(col(_).isNotNull)
                  .reduce(_ && _), lit(1))).as("nn")).head()
              (t.getLong(0), t.getLong(1))
            }
          require(nTd == nTdNonNull,
            s"a dim change event carries a null '$dimKeyStr' — the " +
              "dim's equality tombstones key on a different column, " +
              "so the affected fact rows can't be located; key dim " +
              s"deletes on '$dimKeyStr' (or refresh by rebuild)")
          require(nTd <= maxTouchedKeys,
            s"refresh range touches $nTd dim keys " +
              s"(> $maxTouchedKeys) — rebuild into a fresh " +
              "destination instead, or raise maxTouchedKeys")
          // eager uniqueness audit on exactly the touched dim keys: a
          // duplicate refuses at the refresh that INTRODUCED it, not
          // at the first fact row that happens to reference it
          if (nTd > 0) {
            requireDimUniqueIn(dm,
              pointRead(s, dm.dir, dm.dimKeys, nTd,
                tdProbe.map(_.get(0)).toSeq, Some(tos(i)),
                tdDf.select(dm.fkCols.zip(dm.dimKeys).map {
                  case (f, d) => col(f).as(d) }: _*)))
            affected :+= pointRead(s, factDir, dm.fkCols, nTd,
              tdProbe.map(_.get(0)).toSeq, Some(to1), tdDf)
              .select(col(key))
          }
        }
      }
      // —— fact-event keys ∪ dim-affected keys ——
      val factTouched =
        if (to1 > from1)
          Versioned.readChanges(s, factDir, from1, to1).select(col(key))
        else Versioned.read(s, factDir, Some(to1)).select(col(key))
          .limit(0)
      val kDf = affected.foldLeft(factTouched)(_ unionByName _)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val kProbe = kDf.limit(PruneKeyLimit + 1).collect()
        val kSmall = kProbe.length <= PruneKeyLimit
        val (nK, nKNonNull) =
          if (kSmall) (kProbe.length.toLong,
            kProbe.count(!_.isNullAt(0)).toLong)
          else {
            val t = kDf.agg(count(lit(1)).as("n"),
              count(col(key)).as("nn")).head()
            (t.getLong(0), t.getLong(1))
          }
        require(nK == nKNonNull,
          s"a null '$key' fact key reached the refresh — either a " +
            "fact change event keyed on a different column or a " +
            s"dim-affected fact row with a null '$key'; key fact " +
            s"deletes on '$key' and filter null keys at ingest")
        require(nK <= maxTouchedKeys,
          s"refresh range touches $nK fact keys (> $maxTouchedKeys) " +
            "— rebuild into a fresh destination instead, or raise " +
            "maxTouchedKeys")
        use(kDf, nK, kProbe)
      } finally kDf.unpersist(blocking = false)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  /** Incrementally maintained AGGREGATE view — the GROUP BY rollup
    * twin of [[refresh]]: `dstDir` holds
    * `SELECT groupCols…, sum(valueCol), count(valueCol), count(*)
    * FROM source [WHERE …] GROUP BY groupCols…`, advanced per
    * refresh by ALGEBRAIC delta maintenance instead of
    * recomputation. Multi-column groups and a WHERE predicate are
    * both first-class: the group key is the column TUPLE end to end
    * (delta, point reads, destination upserts), and the predicate
    * applies to every snapshot-side read so the algebra runs on the
    * filtered stream — a filtered GROUP BY is the single most common
    * materialized view in practice.
    *
    * The changelog cannot carry the algebra alone: an equality-delete
    * event has KEY columns only (the Iceberg equality-delete
    * contract), so the old value to subtract isn't in the event. Each
    * refresh therefore diffs the TOUCHED rows between the two pinned
    * snapshots: the row keys named by the range's events are read
    * back at `from` and at `to` — both via [[Versioned.readWhereIn]]
    * point-set pruning, O(files containing touched keys), never a
    * source rescan — and each group's delta is
    * `agg(new touched) - agg(old touched)`. Rows inserted AND deleted
    * inside the range net to zero by construction (they exist in
    * neither snapshot). Destination groups are then patched through
    * the same pruned point-read, a group whose row count reaches zero
    * is deleted, and everything lands in one atomic commit whose note
    * pins `src=vN`.
    *
    * Stored schema: (groupCol, sum_<valueCol>, cnt_<valueCol>,
    * n_rows[, avg_<c>…][, adc_<c>…][, cd_<c> per `exactDistinctCols`
    * column][, min_<c>, max_<c> per `extrema` column][, hll/kll
    * sketch state last]). The value
    * count makes the all-null group exact: a group whose surviving
    * values are all null stores a NULL sum (`cnt` = 0), matching the
    * recompute — an unconditional 0 would not. avg is `sum / cnt`,
    * derivable at read.
    *
    * `extrema` columns get MIN/MAX maintenance by AFFECTED-GROUP
    * recompute — min/max are not delta-invertible (a deleted maximum
    * says nothing about the runner-up), so each refresh re-aggregates
    * exactly the touched groups' rows from the pinned `to` snapshot
    * (same two read tiers, keyed on the group column) and leaves
    * untouched groups' stored values standing. Cost is O(rows of
    * touched groups) per refresh — the standard fallback every
    * incremental-view system uses for non-invertible aggregates. The
    * recompute doubles as a consistency audit: each surviving group's
    * recomputed row count must equal the algebraic one, or the
    * refresh refuses (corrupt pin). `exactDistinctCols` (cd_<c> =
    * exact count(DISTINCT c)) ride the same recompute — and FORCE it
    * on the insert path too, because an inserted value may already
    * exist in its group (no merge can tell); approx_count_distinct
    * (`distinctCols`) is the merge-on-insert alternative whose
    * append refresh pays no recompute read.
    *
    * Contracts refused loudly: a delete event whose `rowKey` is null
    * (the source's tombstones key on a different column — the diff
    * would silently miss those rows), and a patched group whose row
    * count would go negative (a corrupt pin/history). Exactness note:
    * integer/decimal sums are exact; float sums accumulate the usual
    * reassociation drift relative to a full recompute.
    *
    * `maxTouchedKeys` bounds the driver-side key set handed to the
    * point-set pruned reads (the two-pass bounded-driver discipline);
    * a larger batch refuses with the advice to rebuild — a delta that
    * touches a large fraction of the source approaches a rebuild's
    * cost anyway. */
  /** The stored avg columns — the EXACT quotient of the stored
    * (sum, cnt) pair, NULL for the all-null group. ONE definition
    * serves the bootstrap aggregation and every incremental patch,
    * so the two paths can never store differently-derived avgs. */
  private def avgExprsOf(avgs: Seq[String]): Seq[Column] =
    avgs.map(c => when(col(s"cnt_$c") === 0L, lit(null))
      .otherwise(col(s"sum_$c") / col(s"cnt_$c")).as(s"avg_$c"))

  // —— approx-distinct measures: mergeable HLL sketch state ——
  // exact count(DISTINCT) is not delta-maintainable (a deleted value
  // says nothing about whether another row still carries it), but a
  // DataSketches HLL sketch is: HLL slot state is a per-slot MAX, so
  // unioning the new rows' sketch into the stored one is EXACTLY the
  // sketch of the union of the values — inserts merge in the one
  // signed-union pass. Deletes are not invertible in any sketch, so
  // a group that LOST rows falls back to the affected-group
  // recompute, the same discipline the extrema use. The stored
  // schema carries adc_<c> (the estimate the definition's
  // approx_count_distinct names) and hll_<c> (the sketch bytes the
  // merge needs) — the estimate column is what readers consume, the
  // sketch rides LAST as documented maintenance state.

  /** Canonicalize a sketch column: the EMPTY sketch (no non-null
    * values ever added — estimate 0) stores as NULL, so the
    * bootstrap's empty sketch and the patch path's null-merge agree
    * byte-for-byte on the all-null group. */
  private def hllNorm(c: Column): Column =
    when(coalesce(hll_sketch_estimate(c), lit(0L)) === 0L, lit(null))
      .otherwise(c)

  /** Union two nullable sketch columns (either side NULL = empty). */
  private def hllMerge(a: Column, b: Column): Column =
    when(a.isNull, b).when(b.isNull, a).otherwise(hll_union(a, b))

  /** The stored estimate columns — derived from the stored sketch on
    * every write, NEVER patched independently, so estimate and sketch
    * cannot drift. 0 for the all-null group (matching
    * approx_count_distinct over no non-null values). ONE definition
    * serves bootstrap and every patch, like [[avgExprsOf]]. */
  private def adcExprsOf(distincts: Seq[String]): Seq[Column] =
    distincts.map(c =>
      coalesce(hll_sketch_estimate(col(s"hll_$c")), lit(0L))
        .as(s"adc_$c"))

  def refreshAgg(s: SparkSession, srcDir: String, dstDir: String,
      rowKey: String, groupCols: Seq[String], valueCol: String,
      maxTouchedKeys: Int = 100000,
      extrema: Seq[String] = Nil,
      where: Option[String] = None,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty,
      groupExprs: Seq[(String, String)] = Nil,
      withAvg: Boolean = false,
      moreValues: Seq[String] = Nil,
      avgCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      exactDistinctCols: Seq[String] = Nil,
      kllCols: Seq[String] = Nil,
      valueExprs: Seq[(String, String)] = Nil): (Int, Int) = {
    require(groupCols.nonEmpty, "refreshAgg needs at least one group " +
      "column")
    // EXACT distinct-count measures (cd_<c>): non-invertible in BOTH
    // directions (an inserted value may already exist; a deleted one
    // may survive on another row), so EVERY refresh recomputes the
    // touched groups from the pinned `to` snapshot — the extrema
    // discipline extended to the insert path. approx_count_distinct
    // (the HLL spelling) stays the merge-on-insert alternative.
    require(exactDistinctCols.distinct.length ==
      exactDistinctCols.length,
      s"exact-distinct columns must be distinct, got " +
        s"${exactDistinctCols.mkString(", ")}")
    require(exactDistinctCols.forall(c => !groupCols.contains(c)),
      "an exact-distinct column cannot also be a group column " +
        s"(${exactDistinctCols.filter(groupCols.contains)
          .mkString(", ")}) — within one group a group column has " +
        "exactly one value")
    // KLL QUANTILE measures (kll_<c> sketch bytes): same maintenance
    // algebra as the HLL sketches — see [[graft.functions.KllAggs]]
    // for the exactness contract (true order statistics below ~k
    // values per group, published rank error beyond)
    require(kllCols.distinct.length == kllCols.length,
      s"kll columns must be distinct, got ${kllCols.mkString(", ")}")
    require(kllCols.forall(c => !groupCols.contains(c)),
      "a kll column cannot also be a group column " +
        s"(${kllCols.filter(groupCols.contains).mkString(", ")})")
    // APPROX-DISTINCT measures (adc_<c> estimate + hll_<c> sketch
    // state): inserts merge sketches in the delta pass; a group that
    // lost rows recomputes its sketch from the pinned `to` snapshot
    // (the extrema discipline) — see the sketch-state comment block
    require(distinctCols.distinct.length == distinctCols.length,
      s"distinct columns must be distinct, got " +
        s"${distinctCols.mkString(", ")}")
    require(distinctCols.forall(c => !groupCols.contains(c)),
      "an approx-distinct column cannot also be a group column " +
        s"(${distinctCols.filter(groupCols.contains).mkString(", ")})" +
        " — within one group a group column has exactly one value")
    // MULTI-MEASURE views: every value column gets its own exact
    // (sum_c, cnt_c) pair in the one signed-union delta pass — a
    // rollup usually carries several measures, and splitting them
    // across views would pay the changelog walk per measure. `avgs`
    // (any subset of the values, in value order) each store the
    // exact quotient of their pair.
    // an EMPTY valueCol ("") declares the COUNT-ONLY rollup: no
    // sum/cnt pair, the view stores (groups…, n_rows[, non-pair
    // measure families]) — the delta algebra needs only d_n
    val values = (valueCol +: moreValues).filter(_.nonEmpty)
    require(values.distinct.length == values.length,
      s"value columns must be distinct, got ${values.mkString(", ")}")
    require(values.forall(v => !groupCols.contains(v)),
      s"a value column cannot also be a group column " +
        s"(${values.filter(groupCols.contains).mkString(", ")})")
    val avgs = if (avgCols.nonEmpty) avgCols
      else if (withAvg) Seq(valueCol) else Nil
    require(avgs.forall(values.contains) &&
      avgs.distinct.length == avgs.length,
      s"avg columns (${avgs.mkString(", ")}) must be distinct value " +
        s"columns (${values.mkString(", ")})")
    lazy val srcSchema = Versioned.read(s, srcDir).schema
    // (the DECIMAL-avg refusal moved below the derived-column stub —
    // an avg over an EXPRESSION measure needs the derived column's
    // type, which only the prepared-stream stub knows)
    // EXPRESSION-VALUED group keys (`GROUP BY date_trunc('day', ts)`
    // — the time-bucketed rollup, the single most common MV shape in
    // practice): each (name, exprText) materializes as a derived
    // column on EVERY snapshot-side read, and the delta algebra then
    // runs on the bucketed stream unchanged — the bucket is just
    // another group column of the filtered view of the source. The
    // expression must be deterministic (checked over a schema stub
    // below, the stored-query discipline) and row-pure by
    // construction (it is a scalar projection of the single row).
    require(groupExprs.map(_._1).forall(groupCols.contains),
      s"groupExprs names (${groupExprs.map(_._1).mkString(", ")}) " +
        s"must be group columns (${groupCols.mkString(", ")})")
    val derivedNames = groupExprs.map(_._1).toSet
    // EXPRESSION-VALUED measures (`sum(price * (1 - discount)) AS
    // sum_rev`): each (name, exprText) materializes as a derived
    // VALUE column on every snapshot-side read — the bucket
    // discipline applied to measures, so the delta algebra is
    // unchanged. Names must belong to a declared measure family and
    // must not shadow source columns (the stored WHERE and the
    // aggregate args would silently rebind).
    require(valueExprs.map(_._1).distinct.length == valueExprs.length,
      s"valueExprs names must be distinct, got " +
        s"${valueExprs.map(_._1).mkString(", ")}")
    require(valueExprs.map(_._1).forall(n => values.contains(n) ||
      distinctCols.contains(n) || exactDistinctCols.contains(n) ||
      kllCols.contains(n) || extrema.contains(n)),
      s"valueExprs names (${valueExprs.map(_._1).mkString(", ")}) " +
        "must each name a declared measure column")
    val allDerived = groupExprs ++ valueExprs
    if (allDerived.nonEmpty) {
      // a derived name that SHADOWS a source column would silently
      // change what the stored WHERE (and the aggregates) see —
      // refuse the collision outright
      val shadowed = allDerived.map(_._1)
        .filter(n => srcSchema.fieldNames.contains(n))
      require(shadowed.isEmpty,
        s"derived name(s) ${shadowed.mkString(", ")} shadow " +
          "source columns — the stored WHERE would see the derived " +
          "column instead; alias it differently")
      valueExprs.foreach { case (n, t) =>
        val quals = s.sessionState.sqlParser.parseExpression(t)
          .collect {
            case ua: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute if ua.nameParts.length > 1 =>
              ua.name
          }
        require(quals.isEmpty,
          s"measure expression '$n' references " +
            s"${quals.mkString(", ")} with a qualifier — the stored " +
            "text re-resolves against the bare source columns at " +
            "every refresh; use unqualified names")
      }
      // stub determinism check, once per refresh call: a rand() in a
      // bucket or measure expression would re-derive the same rows
      // differently on every read and the view silently diverges
      requireDeterministicOver(
        allDerived.foldLeft(stubOf(s, srcSchema)) {
          case (df, (n, t)) => df.withColumn(n, expr(t)) },
        allDerived.map(_._2).mkString("; "))
    }
    // Spark's avg(decimal) carries its own result precision/scale
    // and HALF_UP rounding — the stored sum/cnt quotient would
    // differ in type and digits from the definition, so DECIMAL avg
    // refuses (long/double quotients are the exact same arithmetic);
    // the type comes from the PREPARED stub so expression measures
    // are covered too
    if (avgs.nonEmpty) {
      val prepSchema = allDerived.foldLeft(stubOf(s, srcSchema)) {
        case (df, (n, t)) => df.withColumn(n, expr(t)) }.schema
      val dec = avgs.filter(c => prepSchema.fields.find(_.name == c)
        .exists(_.dataType
          .isInstanceOf[org.apache.spark.sql.types.DecimalType]))
      require(dec.isEmpty,
        s"avg over DECIMAL column(s) ${dec.mkString(", ")} is not " +
          "maintainable as the stored sum/cnt quotient (Spark's " +
          "avg(decimal) result type and rounding differ) — store " +
          "sum/cnt and divide at read, or cast the column to double")
    }
    // the destination's rows are one-per-group, so only a GROUP
    // column is a meaningful layout key (a value column would need
    // rewrites to move rows between partitions on every patch)
    partitionCol.foreach(c => require(groupCols.contains(c),
      s"partition column '$c' must be one of the group columns " +
        s"(${groupCols.mkString(", ")}) — the view stores one row " +
        "per group"))
    // the WHERE predicate applies to every snapshot-side read — the
    // bootstrap scan, both pinned touched-row reads, and the extrema
    // recompute — so the delta algebra runs on the FILTERED stream
    // unchanged: a row crossing the predicate boundary on update is
    // simply an insert/delete of that stream, which the signed union
    // already nets correctly. Two contract checks up front: a
    // QUALIFIED reference can't re-resolve against the bare
    // snapshot reads, and a NONDETERMINISTIC predicate would sample
    // anew at every read — the view silently diverges from any
    // recompute (checked post-analysis on the first application,
    // where functions are resolved).
    where.foreach { w =>
      val quals = s.sessionState.sqlParser.parseExpression(w).collect {
        case ua: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute if ua.nameParts.length > 1 => ua.name
      }
      require(quals.isEmpty,
        s"WHERE references ${quals.mkString(", ")} with a qualifier " +
          "— the stored predicate re-resolves against the bare " +
          "source columns at every refresh; use unqualified names")
    }
    var whereChecked = false
    // every snapshot-side read goes through `prepared`: derived
    // bucket AND measure columns first (they may only reference
    // source columns), then the WHERE filter — so bootstrap, both
    // pinned touched-row reads, and the extrema recompute all see
    // the same derived, filtered stream
    def prepared(df: DataFrame): DataFrame = {
      val bucketed = (groupExprs ++ valueExprs).foldLeft(df) {
        case (acc, (n, t)) => acc.withColumn(n, expr(t)) }
      where.map { w =>
        val out = bucketed.filter(expr(w))
        if (!whereChecked) {
          whereChecked = true
          val det = out.queryExecution.analyzed.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical
                .Filter => f.condition.deterministic
          }
          require(det.forall(identity),
            s"WHERE predicate '$w' is nondeterministic — every " +
              "snapshot-side read would sample it anew and the " +
              "delta algebra silently diverges from any recompute")
        }
        out
      }.getOrElse(bucketed)
    }
    def aggOf(df: DataFrame): DataFrame = {
      val aggs = values.flatMap(c =>
        Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"cnt_$c"))) ++
        Seq(count(lit(1)).as("n_rows")) ++
        exactDistinctCols.map(c =>
          count_distinct(col(c)).as(s"cd_$c")) ++
        extrema.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c")) ++
        kllCols.map(c =>
          call_function("graft_kll", col(c)).as(s"kll_$c"))
      val base = df.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      if (avgs.isEmpty && distinctCols.isEmpty && kllCols.isEmpty) base
      else base.select((groupCols.map(col) ++
        values.flatMap(c => Seq(col(s"sum_$c"), col(s"cnt_$c"))) ++
        Seq(col("n_rows")) ++ avgExprsOf(avgs) ++
        adcExprsOf(distinctCols) ++
        exactDistinctCols.map(c => col(s"cd_$c")) ++
        extrema.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))) ++
        distinctCols.map(c =>
          hllNorm(col(s"hll_$c")).as(s"hll_$c")) ++
        kllCols.map(c => col(s"kll_$c"))): _*)
    }
    val to = Versioned.currentVersion(s, srcDir)
    require(to > 0, s"no committed source version at $srcDir")
    val dstV = Versioned.currentVersion(s, dstDir)
    if (dstV == 0) {
      // PINNED read: a concurrent source commit between the version
      // capture and this scan would otherwise bake its rows into the
      // bootstrap while the note pins the older version — and unlike
      // refresh()'s upsert-by-key, the algebraic patch is NOT
      // idempotent, so the next refresh would double-count them
      val full = aggOf(prepared(Versioned.read(s, srcDir, Some(to))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // null group keys are refused up front (not at first touch):
        // IN-set point reads and equi-joins on the group columns both
        // skip SQL nulls, so a null group could never be patched
        require(full.filter(groupCols.map(col(_).isNull)
            .reduce(_ || _)).isEmpty,
          s"null '${groupCols.mkString(", ")}' group — filter or " +
            "coalesce the group columns before aggregating")
        Versioned.commit(full, dstDir,
          note = Some(s"src=v$to"), statsCols = Seq(groupCols.head),
          transform = layoutOf(partitionCol),
          props = Some(bootstrapProps).filter(_.nonEmpty))
      } finally full.unpersist(blocking = false)
      return (0, to)
    }
    val from = pinnedSrcVersion(s, dstDir)
    require(from <= to, s"$dstDir pins src=v$from beyond the source " +
      s"head v$to — the source was rolled back or replaced; rebuild " +
      "into a fresh destination")
    if (from == to) return (to, to)
    val events = Versioned.readChanges(s, srcDir, from, to)
    // the touched-key set stays DISTRIBUTED: the driver holds only
    // its COUNT (the bound check) — values are collected solely when
    // the set is small enough for the IN-list pruning tier. Events
    // are NOT where-filtered (equality-delete events carry key
    // columns only): rows that never pass the predicate read back
    // empty from both snapshots and contribute nothing.
    val touchedDf = events.select(col(rowKey)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try refreshAggOver(s, srcDir, dstDir, rowKey, groupCols, values,
      maxTouchedKeys, extrema, prepared, from, to, touchedDf,
      partitionCol, derivedNames, avgs, distinctCols,
      exactDistinctCols, kllCols)
    finally touchedDf.unpersist(blocking = false)
  }

  private def refreshAggOver(s: SparkSession, srcDir: String,
      dstDir: String, rowKey: String, groupCols: Seq[String],
      values: Seq[String], maxTouchedKeys: Int, extrema: Seq[String],
      prepared: DataFrame => DataFrame,
      from: Int, to: Int, touchedDf: DataFrame,
      partitionCol: Option[String] = None,
      derivedNames: Set[String] = Set.empty,
      avgs: Seq[String] = Nil,
      distincts: Seq[String] = Nil,
      exacts: Seq[String] = Nil,
      klls: Seq[String] = Nil): (Int, Int) = {
    // ONE limit-probe serves the common case's every driver fact:
    // when the touched set fits the IN tier (≤ PruneKeyLimit — the
    // typical refresh), its ≤ limit+1 collected rows ARE the count,
    // the null check, and the point-read values — one job instead of
    // a count pass plus a collect pass. Only an over-limit set pays
    // the count-only aggregate, and the driver still never holds
    // more than limit+1 values for it (the r15 bounded-driver
    // discipline unchanged).
    val tProbe = touchedDf.limit(PruneKeyLimit + 1).collect()
    val tSmall = tProbe.length <= PruneKeyLimit
    val (nTouched, nTouchedNonNull) =
      if (tSmall) (tProbe.length.toLong,
        tProbe.count(!_.isNullAt(0)).toLong)
      else {
        val t = touchedDf.agg(count(lit(1)).as("n"),
          count(col(rowKey)).as("nn")).head()
        (t.getLong(0), t.getLong(1))
      }
    require(nTouched == nTouchedNonNull,
      s"a change event carries a null '$rowKey' — the source's " +
        "equality tombstones key on a different column, so the " +
        "snapshot diff would miss those deletions; key deletes on " +
        s"'$rowKey' (or refresh by rebuild)")
    require(nTouched <= maxTouchedKeys,
      s"refresh range touches $nTouched row keys " +
        s"(> $maxTouchedKeys) — rebuild into a fresh destination " +
        "instead, or raise maxTouchedKeys")
    if (nTouched == 0) {
      // zero events (metadata-only source commits): advance the pin
      // with a note-only commit — a stuck pin makes every later
      // refresh re-cover this dead range and eventually trips the
      // touched-key bound on a perfectly healthy view
      Versioned.commitNote(s, dstDir, s"src=v$to")
      return (from, to)
    }
    // group deltas from the two pinned snapshots' touched rows, via
    // the tiered point read ([[pointRead]]); the IN-tier values are
    // exactly the probe's rows (complete by tSmall)
    def touchedAt(ver: Int): DataFrame =
      prepared(pointRead(s, srcDir, Seq(rowKey), nTouched,
        tProbe.map(_.get(0)).toSeq, Some(ver), touchedDf))
    // the affected-group recompute read (extrema/sketches): touched
    // groups' rows at the pinned `to` snapshot — a DERIVED group key
    // can't drive the manifest-pruned point read (the source has no
    // such column), so it falls back to the pinned snapshot scan
    // semi-joined on the bucketed tuple, the same plan the >limit
    // tier uses
    def recomputeAt(gdf: DataFrame, n: Long, vals: Seq[Any]) =
      if (derivedNames.isEmpty)
        prepared(pointRead(s, srcDir, groupCols, n, vals, Some(to),
          gdf))
      else prepared(Versioned.read(s, srcDir, Some(to)))
        .join(broadcast(gdf), groupCols, "left_semi")
    aggDeltaApply(s, dstDir, groupCols, values, extrema, avgs,
      distincts, touchedAt(from), touchedAt(to), recomputeAt,
      s"src=v$to", s"src=v$from", s"src=v$to", partitionCol, exacts,
      klls)
    (from, to)
  }

  /** The aggregate-view PATCH core, shared by the single-table path
    * ([[refreshAggOver]]) and the direct aggregate-over-join path
    * ([[refreshAggJoin]]): SIGNED-union the old/new touched rows
    * (old −1, new +1 — ONE shuffle computes every group's
    * per-measure deltas), patch the touched destination groups via
    * the tiered point read, audit, and land one atomic commit whose
    * note carries `note`. `recomputeAt` reads the touched groups'
    * rows at the NEW pinned state for the non-invertible columns
    * (extrema, HLL sketches) — callers with neither pass a
    * never-called stub. */
  private def aggDeltaApply(s: SparkSession, dstDir: String,
      groupCols: Seq[String], values: Seq[String],
      extrema: Seq[String], avgs: Seq[String], distincts: Seq[String],
      oldRows: DataFrame, newRows: DataFrame,
      recomputeAt: (DataFrame, Long, Seq[Any]) => DataFrame,
      note: String, fromLabel: String, toLabel: String,
      partitionCol: Option[String],
      exacts: Seq[String] = Nil,
      klls: Seq[String] = Nil): Unit = {
    val gCols = groupCols.map(col)
    val extCols = extrema.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val extNames = extrema.flatMap(c => Seq(s"min_$c", s"max_$c"))
    val signed = oldRows.withColumn("__w", lit(-1L))
      .unionByName(newRows.withColumn("__w", lit(1L)))
    // distinct measures ride the same pass: d_hll_<c> sketches the
    // NEW-side values only (old-side rows null out and HLL skips
    // nulls), and d_old counts old-side rows — any means the group
    // lost or changed rows, so its sketch must recompute (no sketch
    // can subtract); none means insert-only, where the union of the
    // stored and new sketches is EXACTLY the sketch of the union
    val sketched = distincts.nonEmpty || klls.nonEmpty
    val deltaAggs = (values.flatMap(c => Seq(
      coalesce(sum(col(c) * col("__w")), lit(0L)).as(s"d_sum_$c"),
      sum(when(col(c).isNotNull, col("__w")).otherwise(0L))
        .as(s"d_cnt_$c"))) :+ sum(col("__w")).as("d_n")) ++
      (if (!sketched) Nil
       else Seq(sum(when(col("__w") === -1L, 1L).otherwise(0L))
         .as("d_old")) ++ distincts.map(c =>
         hll_sketch_agg(when(col("__w") === 1L, col(c)))
           .as(s"d_hll_$c")) ++ klls.map(c =>
         call_function("graft_kll",
           when(col("__w") === 1L, col(c))).as(s"d_kll_$c")))
    val delta = signed.groupBy(gCols: _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one row per group by construction; the same limit-probe fold
      // as the touched keys — the common case's count, null check,
      // IN-tier first-column values, and (sketched) the per-group
      // old-side row count that picks merge vs recompute, ALL in one
      // job over the persisted delta (the loss-group probe used to be
      // its own collect)
      val groupsDf = delta.select(gCols: _*)
      val probeCols = if (sketched) gCols :+ col("d_old") else gCols
      val gProbe = delta.select(probeCols: _*)
        .limit(PruneKeyLimit + 1).collect()
      val gSmall = gProbe.length <= PruneKeyLimit
      val (nGroups, nGroupsNonNull) =
        if (gSmall) (gProbe.length.toLong, gProbe.count(r =>
          groupCols.indices.forall(i => !r.isNullAt(i))).toLong)
        else {
          val g = delta.agg(count(lit(1)).as("n"),
            count(when(groupCols.map(col(_).isNotNull)
              .reduce(_ && _), lit(1))).as("nn")).head()
          (g.getLong(0), g.getLong(1))
        }
      require(nGroups == nGroupsNonNull,
        s"null '${groupCols.mkString(", ")}' group — filter or " +
          "coalesce the group columns before aggregating")
      val groupVals = gProbe.map(_.get(0)).distinct.toSeq
      if (nGroups == 0) {
        // the window's inserts and deletes cancelled exactly (CDC
        // churn): nothing to patch, but the pin must still travel
        Versioned.commitNote(s, dstDir, note)
        return
      }
      // patch the touched destination groups via the same tiered
      // point read, keyed on the group columns. The existing-side key
      // set is ⊆ the delta's in EVERY tier (IN-tier: a row filter on
      // the delta's own values; semi-join tiers: the delta frame is
      // the probe), so the outer join degenerates to a LEFT join —
      // and the existing side is bounded by the same maxTouchedKeys
      // that bounds the whole algorithm, so it broadcasts: the patch
      // costs no second shuffle (the delta reuses its aggregation
      // partitioning) and the audit action is one stage shorter.
      val existing = pointRead(s, dstDir, groupCols, nGroups,
        groupVals, None, groupsDf)
        .withColumn("__present", lit(1))
      // broadcast hint only when the delta probe PROVED the group set
      // small (gSmall ≤ PruneKeyLimit rows): the existing side is
      // full MV rows including HLL/KLL sketch binaries, and at the
      // maxTouchedKeys bound a forced broadcast is a multi-hundred-MB
      // driver collect. Above the proven-small tier the join ships
      // un-hinted and AQE picks the strategy from the measured size.
      def hinted(df: DataFrame): DataFrame =
        if (gSmall) broadcast(df) else df
      val patched = delta
        .join(hinted(existing), groupCols, "left")
        .select(gCols ++ values.flatMap(c => Seq(
          (coalesce(col(s"sum_$c"), lit(0)) +
            coalesce(col(s"d_sum_$c"), lit(0))).as(s"sum_$c"),
          (coalesce(col(s"cnt_$c"), lit(0L)) +
            coalesce(col(s"d_cnt_$c"), lit(0L))).as(s"cnt_$c"))) ++
          Seq(
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_n"),
            lit(0L))).as("n_rows"),
          // a delta group with d_n == 0 is a pure value update: its
          // rows exist at BOTH pinned snapshots, so the group MUST
          // already stand in the destination — a missing row would
          // patch to n_rows=0 and silently emit a group DELETE
          // (dropping the updated sum) instead of refusing
          (col("__present").isNull && col("d_n") === 0L)
            .as("__ghost")) ++
          // the MERGED sketch (stored ∪ new-side — exact for
          // insert-only groups; the new-side sketch normalizes first
          // so an empty one leaves the stored bytes untouched) and
          // the old-side row count deciding merge vs recompute
          (if (!sketched) Nil
           else Seq(coalesce(col("d_old"), lit(0L)).as("__dold")) ++
             distincts.map(c =>
               hllMerge(col(s"hll_$c"), hllNorm(col(s"d_hll_$c")))
                 .as(s"hll_$c")) ++
             klls.map(c =>
               call_function("graft_kll_union", col(s"kll_$c"),
                 col(s"d_kll_$c")).as(s"kll_$c"))): _*)
      // the non-invertible recompute leg (extrema / exact-distinct /
      // sketch-loss), built BEFORE the audit so its consistency check
      // rides the SAME action as the algebraic audits below — the
      // extrema and sketch paths used to pay a separate count() job
      // per refresh for it. `offCond` is the leg's disagreement
      // predicate over the joined frame; lit(false) when no leg runs.
      val (extLeg, offCond) =
        if (extrema.nonEmpty || exacts.nonEmpty) {
          // affected-group recompute for the non-invertible extrema
          // and EXACT distinct counts: re-aggregate ONLY the touched
          // groups' rows at the pinned NEW state (tiered read, keyed
          // on the group columns, the same WHERE applied — they
          // summarize the filtered stream like every other stored
          // column). Exact distinct forces this read on the INSERT
          // path too — an inserted value may already exist, so no
          // merge can tell whether the count grows.
          val srcGroups = recomputeAt(groupsDf, nGroups, groupVals)
          val ext = srcGroups.groupBy(gCols: _*).agg(
            count(lit(1)).as("__extn"),
            (extCols ++
              exacts.map(c => count_distinct(col(c)).as(s"cd_$c")) ++
              distincts.map(c =>
              hll_sketch_agg(col(c)).as(s"r_hll_$c")) ++
              klls.map(c => call_function("graft_kll", col(c))
                .as(s"r_kll_$c"))): _*)
          // every surviving group must reappear with the algebraic
          // count (the recompute doubles as a consistency audit)
          (Some(ext), col("n_rows") > 0L &&
            (col("__extn").isNull || col("__extn") =!= col("n_rows")))
        } else if (sketched) {
          // groups that LOST rows in the window recompute their
          // sketches from the pinned `to` snapshot; insert-only
          // groups keep the exact merge — the common append path
          // pays NO extra source read. Loss groups come from the
          // gProbe's d_old column in the small tier (no extra job);
          // only an over-limit delta pays the separate probe.
          val delGroupsDf = delta.filter(col("d_old") > 0)
            .select(gCols: _*)
          val (nDel, dVals) =
            if (gSmall) {
              val dRows = gProbe.filter(_.getLong(gCols.length) > 0L)
              (dRows.length.toLong, dRows.map(_.get(0)).distinct.toSeq)
            } else {
              val dProbe = delGroupsDf.limit(PruneKeyLimit + 1)
                .collect()
              (if (dProbe.length <= PruneKeyLimit)
                 dProbe.length.toLong
               else delGroupsDf.count(),
                dProbe.map(_.get(0)).distinct.toSeq)
            }
          if (nDel == 0) (None, lit(false))
          else {
            val srcDel = recomputeAt(delGroupsDf, nDel, dVals)
            val rAggs = count(lit(1)).as("__rn") +:
              (distincts.map(c =>
                hll_sketch_agg(col(c)).as(s"r_hll_$c")) ++
               klls.map(c => call_function("graft_kll", col(c))
                 .as(s"r_kll_$c")))
            val rHll = srcDel.groupBy(gCols: _*)
              .agg(rAggs.head, rAggs.tail: _*)
            // recomputed SURVIVING groups must reappear with the
            // algebraic count — the extrema audit's twin
            (Some(rHll), col("n_rows") > 0L && col("__dold") > 0L &&
              (col("__rn").isNull || col("__rn") =!= col("n_rows")))
          }
        } else (None, lit(false))
      // the leg is one aggregated row per touched group — same
      // proven-small gating as the existing side above (it carries
      // recomputed sketch state, the same driver-pressure shape)
      val audited = extLeg.fold(patched)(e =>
          patched.join(hinted(e), groupCols, "left"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE action serves every audit AND the commit preflight the
        // merge used to recompute (upsert/delete counts, the
        // manifest-pruning key range): the algebraic invariants, the
        // ghost check, and the recompute-leg agreement are all
        // per-row facts of the same audited frame
        val key = groupCols.head
        val bad = audited.agg(
          sum(when(col("n_rows") < 0L, 1L).otherwise(0L)),
          sum(when(values.map(c => col(s"cnt_$c") < 0L)
            .reduceOption(_ || _).getOrElse(lit(false)), 1L)
            .otherwise(0L)),
          sum(when(col("__ghost"), 1L).otherwise(0L)),
          sum(when(offCond, 1L).otherwise(0L)),
          coalesce(sum(when(col("n_rows") > 0L, 1L).otherwise(0L)),
            lit(0L)),
          coalesce(sum(when(col("n_rows") === 0L, 1L).otherwise(0L)),
            lit(0L)),
          min(when(col("n_rows") > 0L, col(key))),
          max(when(col("n_rows") > 0L, col(key)))).head()
        require(bad.getLong(0) == 0 && bad.getLong(1) == 0,
          s"${bad.getLong(0)} group(s) would reach a negative row " +
          s"count and ${bad.getLong(1)} a negative value count — the " +
          s"destination does not reflect $fromLabel" +
          " (corrupt pin or out-of-band edits); rebuild")
        require(bad.getLong(2) == 0, s"${bad.getLong(2)} pure-value-" +
          "update group(s) have no destination row — the destination " +
          s"does not reflect $fromLabel (corrupt pin or out-of-band " +
          "edits); rebuild")
        require(bad.getLong(3) == 0, s"${bad.getLong(3)} group(s) " +
          s"disagree between the algebraic row count and the " +
          s"$toLabel recompute — corrupt pin or out-of-band edits; " +
          "rebuild")
        val nUps = bad.getLong(4)
        val nDels = bad.getLong(5)
        val range = if (nUps == 0 || bad.isNullAt(6)) None
          else Some((key, bad.get(6), bad.get(7)))
        // stored avgs re-derive from the PATCHED pairs on every
        // touch, so they can never drift from sum/cnt (NULL for the
        // all-null group, like the sum) — the same [[avgExprsOf]]
        // definition the bootstrap aggregation stores
        val avgCols = avgExprsOf(avgs)
        // recompute-leg columns the final projection reads (the
        // recompute read is already paid for every touched group, so
        // the sketches ride it too — ground truth)
        val legCols: Seq[Column] =
          if (extrema.nonEmpty || exacts.nonEmpty)
            extNames.map(col) ++
              exacts.map(c => col(s"cd_$c")) ++
              distincts.map(c => col(s"r_hll_$c")) ++
              klls.map(c => col(s"r_kll_$c"))
          else if (extLeg.isDefined)
            distincts.map(c => col(s"r_hll_$c")) ++
              klls.map(c => col(s"r_kll_$c"))
          else Nil
        val upserts0 = audited.filter(col("n_rows") > 0)
          // the all-null group stores NULL, matching the recompute
          .select(gCols ++ values.flatMap(c => Seq(
            when(col(s"cnt_$c") === 0L, lit(null))
              .otherwise(col(s"sum_$c")).as(s"sum_$c"),
            col(s"cnt_$c"))) ++
            Seq(col("n_rows")) ++ avgCols ++
            (if (!sketched) Nil
             else Seq(col("__dold")) ++
               distincts.map(c => col(s"hll_$c")) ++
               klls.map(c => col(s"kll_$c"))) ++ legCols: _*)
        // the stored order: groups, (sum, cnt)…, n_rows, avg…, adc…
        // (estimates re-derived from the FINAL sketches so they can
        // never drift), cd… (exact distinct counts), ext…, hll…
        // (sketch state rides last)
        def ordered(df: DataFrame): DataFrame =
          df.select((gCols ++
            values.flatMap(c => Seq(col(s"sum_$c"), col(s"cnt_$c"))) ++
            Seq(col("n_rows")) ++ avgs.map(c => col(s"avg_$c")) ++
            adcExprsOf(distincts) ++
            exacts.map(c => col(s"cd_$c")) ++ extNames.map(col) ++
            distincts.map(c => col(s"hll_$c")) ++
            klls.map(c => col(s"kll_$c"))): _*)
        val upserts = if (extrema.nonEmpty || exacts.nonEmpty) {
          ordered(klls.foldLeft(
            distincts.foldLeft(upserts0: DataFrame) {
              case (df, c) =>
                df.withColumn(s"hll_$c", hllNorm(col(s"r_hll_$c"))) }) {
            case (df, c) =>
              df.withColumn(s"kll_$c", col(s"r_kll_$c")) })
        } else if (extLeg.isDefined) {
          ordered(klls.foldLeft(
            distincts.foldLeft(upserts0: DataFrame) {
              case (df, c) => df.withColumn(s"hll_$c",
                when(col("__dold") > 0, hllNorm(col(s"r_hll_$c")))
                  .otherwise(col(s"hll_$c"))) }) {
            case (df, c) => df.withColumn(s"kll_$c",
              when(col("__dold") > 0, col(s"r_kll_$c"))
                .otherwise(col(s"kll_$c"))) })
        } else ordered(upserts0)
        val dels = audited.filter(col("n_rows") === 0L)
          .select(gCols: _*)
        // the audited frame's facts stand in for the merge's own
        // preflight: group tuples are distinct (one row per group by
        // construction), non-null (audited above), and the
        // upsert/delete sides partition on n_rows — so the trusted
        // entry skips the public path's preflight aggregation job
        Versioned.applyChangesKeysPre(s, dstDir, upserts = upserts,
          delKeys = dels, keyCols = groupCols,
          n = nUps, nDelOnly = nDels, pruneRange = range,
          transform = layoutOf(partitionCol),
          statsCols = Seq(groupCols.head), note = Some(note))
      } finally {
        audited.unpersist(blocking = false)
      }
    } finally delta.unpersist(blocking = false)
  }

  /** Driver-visible gate (q54): [[refreshAgg]] maintaining
    * `GROUP BY source` over a documents-derived table through
    * bootstrap → append → one atomic mixed batch that exercises every
    * delta channel at once: a GROUP MIGRATION (rows whose update moves
    * them to a brand-new group — the old group shrinks, a group row
    * is BORN), values nulled in place (the value-count channel), and
    * key deletes. The final state is checked row-for-row against a
    * full recompute; every fact reduces to constants DuckDB restates
    * by replaying the same edits over the fixture in SQL. */
  def aggRefreshGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-aggmv-gate")
    try aggRefreshGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def aggRefreshGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    val src = work.resolve("src").toString
    val dst = work.resolve("dst").toString
    // the pooled source family (see [[cloneMvDocsSrc]]): the fixture
    // scan and the two source commits run once per JVM; this run
    // clones and exercises bootstrap / append / CDC batch LIVE
    cloneMvDocsSrc(s, d, src)
    aggRefreshGateStages(s, src, dst, work)
  }

  private def aggRefreshGateStages(s: SparkSession,
      src: String, dst: String,
      work: java.nio.file.Path): DataFrame = {
    refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
    val g1 = Versioned.read(s, dst).count()
    Versioned.append(Versioned.read(s, src + ".app"), src)
    refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
    val g2 = Versioned.read(s, dst).count()
    // the edit inputs derive from the source itself (post-append it
    // IS the full docs projection) — no fixture rescan
    val all = Versioned.read(s, src)
    // the mixed batch: 1-3 migrate to a NEW group with a fixed value,
    // 4-5 null their value in place, every doc_id % 50 == 0 dies
    val updates = all.filter(col("doc_id").isin(1L, 2L, 3L, 4L, 5L))
      .select(col("doc_id"),
        when(col("doc_id") <= 3, lit("migrated"))
          .otherwise(col("source")).as("source"),
        when(col("doc_id") <= 3, lit(1000L))
          .otherwise(lit(null).cast("long")).as("n_chars"))
    Versioned.applyChanges(s, src, upserts = updates,
      deleteKeys = all.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id")),
      key = "doc_id")
    val (rFrom, rTo) = refreshAgg(s, src, dst, "doc_id", Seq("source"),
      "n_chars")
    val fin = Versioned.read(s, dst)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the stage's four scalar facts in ONE job over the persisted
    // state (count + three sums were two jobs before)
    val tot = fin.agg(count(lit(1)).as("g"),
      sum(col("n_rows")).as("r"),
      sum(col("sum_n_chars")).as("s"),
      sum(col("cnt_n_chars")).as("c")).head()
    val g3 = tot.getLong(0)
    // row-for-row equality against the full recompute (bag
    // semantics) — one signed-union shuffle, see [[bagEqual]]
    val expect = Versioned.read(s, src).groupBy(col("source")).agg(
      sum(col("n_chars")).as("sum_n_chars"),
      count(col("n_chars")).as("cnt_n_chars"),
      count(lit(1)).as("n_rows"))
    val eq = bagEqual(fin, expect)
    fin.unpersist(blocking = false)
    // no-op stability: the pin matches, no new destination version
    val vBefore = Versioned.currentVersion(s, dst)
    val noop = refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
    val noopOk = noop == ((rTo, rTo)) &&
      Versioned.currentVersion(s, dst) == vBefore
    // tombstones keyed off the row key must refuse (the snapshot diff
    // would miss those rows), and an unpinned destination refuses
    import s.implicits._
    Versioned.deleteRows(s, src, Seq("migrated").toDF("source"))
    val refusedKey = scala.util.Try(
      refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")).isFailure
    val plain = work.resolve("plain").toString
    Versioned.commit(Versioned.read(s, src).limit(3), plain)
    val refusedPin = scala.util.Try(
      refreshAgg(s, src, plain, "doc_id", Seq("source"), "n_chars")).isFailure
    Seq((g1, g2, g3, tot.getLong(1), tot.getLong(2), tot.getLong(3),
        rFrom.toLong, rTo.toLong, if (eq) 1L else 0L,
        if (noopOk) 1L else 0L, if (refusedKey) 1L else 0L,
        if (refusedPin) 1L else 0L))
      .toDF("groups_v1", "groups_v2", "groups_v3", "rows_v3",
        "charsum_v3", "charcnt_v3", "refresh_from", "refresh_to",
        "eq_full_recompute", "noop_stable", "refused_foreign_key",
        "refused_unpinned")
  }

  /** Driver-visible gate (q55): the SQL MATERIALIZED VIEW lifecycle —
    * CREATE MATERIALIZED VIEW bootstraps the build and persists the
    * spec in the view's own table properties, `CALL refresh_mv(view)`
    * advances BOTH kinds argument-free (the spec reads back from the
    * properties), the advanced states equal full recomputes, a no-op
    * refresh holds the pin, and DROP MATERIALIZED VIEW removes the
    * view. Every fact reduces to a constant DuckDB restates from the
    * documents fixture. */
  def mvLifecycleGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-mvddl-gate")
    try mvLifecycleGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def mvLifecycleGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val src = abs("src"); val mv = abs("mv"); val aggmv = abs("aggmv")
    // the pooled source family (see [[cloneMvDocsSrc]])
    cloneMvDocsSrc(s, d, src)
    // the derived and aggregate views are INDEPENDENT destinations
    // over the same immutable source snapshot — each lifecycle step
    // runs both legs concurrently ([[concurrently]]: the refreshes
    // are ~half driver-side gaps, and the overlap hides one leg's
    // gaps behind the other's jobs)
    val Seq((cd, rowsV1), (ca, groupsV1)) = concurrently(
      () => {
        val c = s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` " +
          s"KEY (doc_id) AS SELECT doc_id, source, n_chars * 2 AS w " +
          s"FROM graft.`$src` WHERE n_chars >= 300").head()
        (c, Versioned.read(s, mv).count())
      },
      () => {
        val c = s.sql(s"CREATE MATERIALIZED VIEW graft.`$aggmv` " +
          s"ROW KEY (doc_id) AS SELECT source, sum(n_chars) AS " +
          s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
          s"n_rows FROM graft.`$src` GROUP BY source").head()
        (c, Versioned.read(s, aggmv).count())
      })
    Versioned.append(Versioned.read(s, src + ".app"), src)
    val Seq((r1, rowsV2), (r2, groupsV2)) = concurrently(
      () => (s.sql(s"CALL graft.system.refresh_mv('$mv')").head(),
        Versioned.read(s, mv).count()),
      () => (s.sql(s"CALL graft.system.refresh_mv('$aggmv')").head(),
        Versioned.read(s, aggmv).count()))
    // both advanced states equal their full recomputes, in one
    // signed-union shuffle each (the two legs overlap)
    val Seq(eqD, eqA) = concurrently(
      () => bagEqual(Versioned.read(s, mv),
        s.sql(s"SELECT doc_id, source, n_chars * 2 AS w FROM " +
          s"graft.`$src` WHERE n_chars >= 300")),
      () => bagEqual(Versioned.read(s, aggmv),
        s.sql(s"SELECT source, sum(n_chars) AS sum_n_chars, " +
          s"count(n_chars) AS cnt_n_chars, count(*) AS n_rows FROM " +
          s"graft.`$src` GROUP BY source")))
    // the spec travels in the properties of BOTH views
    val pd = Versioned.properties(s, mv)
    val pa = Versioned.properties(s, aggmv)
    val specOk = pd.get(MvKindProp).contains("derived") &&
      pd.contains(MvQueryProp) && pd.get(MvKeyProp).contains("doc_id") &&
      pa.get(MvKindProp).contains("agg") &&
      pa.get(MvGroupProp).contains("source") &&
      pa.get(MvValueProp).contains("n_chars")
    // a no-op refresh holds the pin and publishes nothing
    val vBefore = Versioned.currentVersion(s, mv)
    val rn = s.sql(s"CALL graft.system.refresh_mv('$mv')").head()
    val noopOk = rn.getInt(1) == rn.getInt(2) &&
      Versioned.currentVersion(s, mv) == vBefore
    s.sql(s"DROP MATERIALIZED VIEW graft.`$mv`")
    val dropped = Versioned.currentVersion(s, mv) == 0
    import s.implicits._
    Seq((if (cd.getString(0) == "derived") 1L else 0L,
        if (ca.getString(0) == "agg") 1L else 0L,
        rowsV1, groupsV1,
        r1.getInt(1).toLong, r1.getInt(2).toLong,
        r2.getInt(1).toLong, r2.getInt(2).toLong,
        rowsV2, groupsV2,
        if (eqD) 1L else 0L, if (eqA) 1L else 0L,
        if (specOk) 1L else 0L, if (noopOk) 1L else 0L,
        if (dropped) 1L else 0L))
      .toDF("created_derived", "created_agg", "rows_v1", "groups_v1",
        "mv_from", "mv_to", "agg_from", "agg_to", "rows_v2",
        "groups_v2", "eq_derived", "eq_agg", "spec_props",
        "noop_stable", "dropped")
  }

  /** Driver-visible gate (q57): the MV SHAPES surface — a FILTERED
    * aggregate view (WHERE under GROUP BY, the single most common MV
    * in practice), a MULTI-COLUMN group tuple, an EXPRESSION-VALUED
    * group key with the AVG spelling (`GROUP BY date_trunc('DAY',
    * ts)` + `avg(v) AS avg_v` over an events slice — the
    * time-bucketed rollup, r17), and the staleness contract with
    * BOTH actions (`mv.max-staleness-versions` refuses a stale read,
    * refresh clears it; `mv.refresh-on-read` makes the read advance
    * the view itself), all spelled in pure SQL. Every view advances
    * through a source append and equals its full recompute; every
    * count reduces to a fixture constant DuckDB restates over the
    * bounded doc_id < 600 / event_id < 500 slices (boundary-crossing
    * edits are pinned by q52/q54 and the MvSpec/DerivedSpec
    * lifecycles — this gate pins the SHAPES and the freshness
    * contract). */
  def mvShapesGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-mvshapes-gate")
    try mvShapesGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** The pooled SOURCE family q57/q60 share: the BOUNDED (< 600)
    * 4-column documents slice split at 400 (base + `.app`), plus the
    * exact-cents events slice split at 400 (`.ev` + `.evapp`) for
    * the day-bucketed leg. Bounded at every SF on purpose: the gates
    * prove lifecycle semantics, not scan throughput — the unbounded
    * corpus belongs to the operators measured for scale. */
  private def cloneMvShapeSrc(s: SparkSession, d: String,
      src: String): Unit =
    FixturePool.cloneTo(s"mvshape:$d", src, reclaimAtExit = true) {
      dir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"))
          .filter(col("doc_id") < 600)
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(docs.filter(col("doc_id") < 400), dir)
          Versioned.commit(docs.filter(col("doc_id") >= 400),
            dir + ".app")
        } finally docs.unpersist(blocking = false)
        // the value goes in as exact cents (floor(value*100) — floor
        // is IEEE-identical across engines) so the algebraic patch
        // is exact and recompute equality is a hash fact
        val ev = Tables.load(s, d, "events")
          .filter(col("event_id") < 500)
          .select(col("event_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("cents"))
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(ev.filter(col("event_id") < 400),
            dir + ".ev")
          Versioned.commit(ev.filter(col("event_id") >= 400),
            dir + ".evapp")
        } finally ev.unpersist(blocking = false)
    }

  private def mvShapesGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val src = abs("src"); val fmv = abs("fmv"); val mmv = abs("mmv")
    cloneMvShapeSrc(s, d, src)
    mvShapesGateLegs(s, d, src, fmv, mmv, src + ".ev", abs("bmv"))
  }

  private def mvShapesGateLegs(s: SparkSession, d: String,
      src: String, fmv: String, mmv: String,
      bsrc: String, bmv: String): DataFrame = {
    // the three views (filtered, multi-column, day-bucketed) are
    // INDEPENDENT destinations — creates, appends and refreshes run
    // concurrently per step ([[concurrently]]); the day-bucketed leg
    // rides its own `.ev` source, so its create/append/refresh
    // overlap the docs-sourced legs' too. Ordering within each leg
    // (create → its source's append → refresh) is preserved.
    concurrently(
      () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$fmv` ROW KEY " +
        s"(doc_id) AS SELECT source, sum(n_chars) AS sum_n_chars, " +
        s"count(n_chars) AS cnt_n_chars, count(*) AS n_rows " +
        s"FROM graft.`$src` WHERE n_chars >= 300 GROUP BY source"),
      () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$mmv` ROW KEY " +
        s"(doc_id) AS SELECT source, lang, sum(n_chars) AS " +
        s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
        s"n_rows FROM graft.`$src` GROUP BY source, lang"),
      // the r17 expression-group-key + avg leg: a day-bucketed
      // rollup over the exact-cents events slice (`.ev`)
      () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$bmv` ROW KEY " +
        s"(event_id) AS SELECT date_trunc('DAY', ts) AS day, " +
        s"sum(cents) AS sum_cents, count(cents) AS cnt_cents, " +
        s"count(*) AS n_rows, avg(cents) AS avg_cents " +
        s"FROM graft.`$bsrc` GROUP BY date_trunc('DAY', ts)"))
    val specWhere = Versioned.properties(s, fmv)
      .get(MvWhereProp).exists(_.contains("300")) &&
      Versioned.properties(s, mmv).get(MvGroupProp)
        .contains("source,lang")
    concurrently(
      () => Versioned.append(Versioned.read(s, src + ".app"), src),
      () => Versioned.append(Versioned.read(s, src + ".evapp"), bsrc))
    concurrently(
      () => s.sql(s"CALL graft.system.refresh_mv('$fmv')"),
      () => s.sql(s"CALL graft.system.refresh_mv('$mmv')"),
      () => s.sql(s"CALL graft.system.refresh_mv('$bmv')"))
    // the staleness contract: bound the filtered view at lag 0,
    // advance the source head with a METADATA-ONLY commit (lag
    // counts source versions — exactly what a bounded reader must
    // refuse on, and the cheapest honest way to create it), assert
    // the catalog read refuses naming the property, and clear it
    // with a refresh (a zero-event range advances the pin through a
    // note-only commit — the dead-range discipline doing double duty)
    s.sql(s"ALTER TABLE graft.`$fmv` SET TBLPROPERTIES " +
      s"('$MvMaxStalenessProp'='0')")
    Versioned.commitNote(s, src, "audit-marker")
    val staleRefused = scala.util.Try(
      s.sql(s"SELECT * FROM graft.`$fmv`").collect()) match {
      case scala.util.Failure(e) =>
        e.getMessage.contains(MvMaxStalenessProp)
      case _ => false
    }
    s.sql(s"CALL graft.system.refresh_mv('$fmv')")
    val freshAfter = scala.util.Try(
      s.sql(s"SELECT count(*) FROM graft.`$fmv`").collect()).isSuccess
    // the OTHER staleness action: opt into refresh-on-read, go stale
    // again (metadata-only head bump), and the next catalog read
    // advances the view ITSELF — served fresh, pin caught up, no
    // manual refresh
    s.sql(s"ALTER TABLE graft.`$fmv` SET TBLPROPERTIES " +
      s"('$MvRefreshOnReadProp'='true')")
    Versioned.commitNote(s, src, "audit-marker-2")
    val autoRefreshed = scala.util.Try(
      s.sql(s"SELECT count(*) FROM graft.`$fmv`").collect()).isSuccess &&
      refreshState(s, fmv).exists(_._3 == 0)
    // (the day-bucketed leg's create/append/refresh ran above,
    // overlapped with the docs-sourced legs)
    val bProps = Versioned.properties(s, bmv)
    val specBucket = bProps.get(MvGroupExprPrefix + "day")
      .exists(_.contains("date_trunc")) &&
      bProps.get(MvAvgProp).contains("cents")
    // —— the three views' scalar facts in ONE tagged job, and the
    // three full-recompute equalities in ONE signed-union job (the
    // q58 fold discipline) — sound to defer past the staleness legs
    // because those only add METADATA commits (note-only), never
    // data, and path reads are staleness-exempt
    def st(df: DataFrame, tag: String, sm: Column): DataFrame =
      df.select(lit(tag).as("t"), sm.cast("long").as("sm"))
    def statsJob() =
      st(Versioned.read(s, fmv), "f", col("sum_n_chars"))
      .unionByName(st(Versioned.read(s, mmv), "m", col("n_rows")))
      .unionByName(st(Versioned.read(s, bmv), "b", col("sum_cents")))
      .groupBy(col("t")).agg(count(lit(1)).as("g"),
        sum(col("sm")).as("sm"))
      .collect().map(r => r.getString(0) -> r).toMap
    def norm(df: DataFrame, tag: String, w: Long): DataFrame = {
      val cs = df.columns.zipWithIndex.map { case (c, i) =>
        col(c).cast("string").as(s"c${i + 1}") }
      val pad = (df.columns.length until 5).map(i =>
        lit(null).cast("string").as(s"c${i + 1}"))
      df.select(lit(tag).as("t") +: (cs ++ pad) :+
        lit(w).as("w"): _*)
    }
    def badLegsJob() = norm(Versioned.read(s, fmv), "f", 1L)
      .unionByName(norm(s.sql(s"SELECT source, sum(n_chars) AS " +
        s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
        s"n_rows FROM graft.`$src` WHERE n_chars >= 300 " +
        "GROUP BY source"), "f", -1L))
      .unionByName(norm(Versioned.read(s, mmv), "m", 1L))
      .unionByName(norm(s.sql(s"SELECT source, lang, sum(n_chars) " +
        s"AS sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) " +
        s"AS n_rows FROM graft.`$src` GROUP BY source, lang"),
        "m", -1L))
      .unionByName(norm(Versioned.read(s, bmv), "b", 1L))
      .unionByName(norm(s.sql(s"SELECT date_trunc('DAY', ts) AS " +
        s"day, sum(cents) AS sum_cents, count(cents) AS cnt_cents, " +
        s"count(*) AS n_rows, avg(cents) AS avg_cents FROM " +
        s"graft.`$bsrc` GROUP BY date_trunc('DAY', ts)"), "b", -1L))
      .groupBy(col("t"), col("c1"), col("c2"), col("c3"), col("c4"),
        col("c5"))
      .agg(sum(col("w")).as("d")).filter(col("d") =!= 0L)
      .select(col("t")).distinct().collect().map(_.getString(0)).toSet
    // the two verification collects are independent reads of the same
    // published states — overlap them (guide §2.6)
    val (stats, badLegs) = graft.tools.Overlap.concurrently2(
      () => statsJob(), () => badLegsJob())
    import s.implicits._
    Seq((stats("f").getLong(1), stats("f").getLong(2),
        stats("m").getLong(1), stats("m").getLong(2),
        if (!badLegs("f")) 1L else 0L, if (!badLegs("m")) 1L else 0L,
        if (specWhere) 1L else 0L, if (staleRefused) 1L else 0L,
        if (freshAfter) 1L else 0L, if (autoRefreshed) 1L else 0L,
        stats("b").getLong(1), stats("b").getLong(2),
        if (!badLegs("b")) 1L else 0L,
        if (specBucket) 1L else 0L))
      .toDF("groups_f", "sum_f", "groups_m", "rows_m",
        "eq_filtered", "eq_multi", "spec_where", "stale_refused",
        "fresh_after", "auto_refreshed", "groups_b", "sum_b",
        "eq_bucketed", "spec_bucket")
  }

  /** Driver-visible gate (q58): the JOIN materialized view and MV
    * CHAINING — a fact⋈dim enrichment view created in pure SQL
    * (filtered, inner, N:1), advanced through a fact append AND a
    * dim-side edit batch (a relabel + a dim-key delete — the
    * takedown shape), plus a GOLD aggregate view whose SOURCE is the
    * join view itself (bronze→silver→gold: one dim edit propagates
    * through two chained refreshes). Every state equals its full
    * recompute; every count reduces to a fixture constant DuckDB
    * restates over the bounded doc_id < 600 slice. */
  def joinMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-joinmv-gate")
    try joinMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def joinMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val fact = abs("fact"); val jmv = abs("jmv"); val gold = abs("gold")
    // fact + dim + the append slice pool ONCE per JVM as one family
    // (base, .dim, .app siblings): the docs scan and the bootstrap
    // commits leave the per-run path, while every run still clones
    // the family and exercises CREATE / append / refresh / dim-edit
    // LIVE — those are the operators this gate measures (the d10
    // pooled-base discipline)
    FixturePool.cloneTo(s"q58-base:$d", fact,
      reclaimAtExit = true) { dir =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .filter(col("doc_id") < 600)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Versioned.commit(docs.filter(col("doc_id") < 400), dir)
        Versioned.commit(docs.select(col("source")).distinct()
          .withColumn("src_label", upper(col("source"))),
          dir + ".dim")
        Versioned.commit(docs.filter(col("doc_id") >= 400),
          dir + ".app")
      } finally docs.unpersist(blocking = false)
    }
    val dim = fact + ".dim"
    val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$jmv` " +
      s"KEY (doc_id) AS SELECT f.doc_id, f.source, d.src_label, " +
      s"f.n_chars FROM graft.`$fact` f JOIN graft.`$dim` d " +
      s"ON f.source = d.source WHERE f.n_chars >= 300").head()
    // fact-side delta: append the 400-599 slice, refresh
    Versioned.append(Versioned.read(s, fact + ".app"), fact)
    s.sql(s"CALL graft.system.refresh_mv('$jmv')")
    // GOLD rides the silver view: an aggregate MV whose source IS
    // the join view (its CDC commits feed refreshAgg's changelog
    // read like any table's)
    s.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY " +
      s"(doc_id) AS SELECT src_label, sum(n_chars) AS sum_n_chars, " +
      s"count(n_chars) AS cnt_n_chars, count(*) AS n_rows " +
      s"FROM graft.`$jmv` GROUP BY src_label")
    // dim-side delta, one atomic batch: the lexicographically FIRST
    // source relabels (affected facts must re-derive), the LAST
    // deletes (its facts must leave the inner join) — then the edit
    // propagates silver → gold through two chained refreshes
    val mm = Versioned.read(s, dim)
      .agg(min(col("source")), max(col("source"))).head()
    val (mn, mx) = (mm.getString(0), mm.getString(1))
    import s.implicits._
    Versioned.applyChanges(s, dim,
      upserts = Seq((mn, "RELABELED")).toDF("source", "src_label"),
      deleteKeys = Seq(mx).toDF("source"), key = "source")
    s.sql(s"CALL graft.system.refresh_mv('$jmv')")
    s.sql(s"CALL graft.system.refresh_mv('$gold')")
    // —— every scalar fact in ONE job: the jmv's three lifecycle
    // states (v1 bootstrap / v2 post-append / v3 head — snapshots
    // are immutable, so the time-travel reads ARE the states the
    // lifecycle produced) and the gold head, tagged and union-folded
    def st(df: DataFrame, tag: String, rl: Column,
        sm: Column): DataFrame =
      df.select(lit(tag).as("t"), rl.cast("long").as("rl"),
        sm.cast("long").as("sm"))
    def statsJob() = st(Versioned.read(s, jmv, Some(1)), "v1", lit(0L),
        lit(0L))
      .unionByName(st(Versioned.read(s, jmv, Some(2)), "v2", lit(0L),
        lit(0L)))
      .unionByName(st(Versioned.read(s, jmv), "v3",
        when(col("src_label") === "RELABELED", 1L).otherwise(0L),
        lit(0L)))
      .unionByName(st(Versioned.read(s, gold), "gold", lit(0L),
        col("sum_n_chars")))
      .groupBy(col("t")).agg(count(lit(1)).as("n"),
        sum(col("rl")).as("rl"), sum(col("sm")).as("sm"))
      .collect().map(r => r.getString(0) -> r).toMap
    // —— every full-recompute equality in ONE signed-union job: the
    // v2 leg recomputes against the PINNED inputs it was built from
    // (fact v2 ⋈ dim v1 — time travel makes the deferred check read
    // exactly what the live check read), v3 and gold against the
    // heads; rows normalize to tagged string tuples so all three
    // legs share one aggregation
    def norm(df: DataFrame, tag: String, w: Long): DataFrame =
      df.select(lit(tag).as("t") +:
        df.columns.zipWithIndex.map { case (c, i) =>
          col(c).cast("string").as(s"c${i + 1}") }.toSeq :+
        lit(w).as("w"): _*)
    def jmvSelect(factRel: String, dimRel: String) =
      s"SELECT f.doc_id, f.source, d.src_label, f.n_chars " +
        s"FROM $factRel f JOIN $dimRel d ON f.source = d.source " +
        "WHERE f.n_chars >= 300"
    def badLegsJob() = norm(Versioned.read(s, jmv, Some(2)), "v2", 1L)
      .unionByName(norm(s.sql(jmvSelect(
        s"graft.`$fact` VERSION AS OF 2", s"graft.`$dim` VERSION AS " +
          "OF 1")), "v2", -1L))
      .unionByName(norm(Versioned.read(s, jmv), "v3", 1L))
      .unionByName(norm(s.sql(jmvSelect(s"graft.`$fact`",
        s"graft.`$dim`")), "v3", -1L))
      .unionByName(norm(Versioned.read(s, gold), "gold", 1L))
      .unionByName(norm(s.sql(s"SELECT src_label, sum(n_chars) AS " +
        s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
        s"n_rows FROM graft.`$jmv` GROUP BY src_label"), "gold", -1L))
      .groupBy(col("t"), col("c1"), col("c2"), col("c3"), col("c4"))
      .agg(sum(col("w")).as("d")).filter(col("d") =!= 0L)
      .select(col("t")).distinct().collect().map(_.getString(0)).toSet
    // the two verification collects are independent reads of the same
    // published states — overlap them (guide §2.6)
    val (stats, badLegs) = graft.tools.Overlap.concurrently2(
      () => statsJob(), () => badLegsJob())
    Seq((if (created.getString(0) == "join") 1L else 0L,
        stats("v1").getLong(1), stats("v2").getLong(1),
        stats("v3").getLong(1), stats("v3").getLong(2),
        stats("gold").getLong(1), stats("gold").getLong(3),
        if (!badLegs("v2")) 1L else 0L,
        if (!badLegs("v3")) 1L else 0L,
        if (!badLegs("gold")) 1L else 0L))
      .toDF("created_join", "rows_v1", "rows_v2", "rows_v3",
        "relabeled", "gold_groups", "gold_sum", "eq_v2", "eq_v3",
        "eq_gold")
  }

  /** Driver-visible gate (q59): the AGGREGATE-OVER-JOIN materialized
    * view — `SELECT d.src_label, sum/count/avg(f.n_chars)… FROM fact
    * JOIN dim [WHERE] GROUP BY d.src_label` under ONE name,
    * maintained DIRECTLY (r18): sum/cnt/avg are invertible, so no
    * hidden silver materializes — each refresh re-derives the
    * touched fact keys' join output at the pinned versions and
    * patches the groups algebraically, ONE commit per refresh (the
    * silver auto-chain remains for extrema/distinct shapes). The
    * same pooled fact/dim family and the same edit batch as q58
    * (fact append; dim relabel moving one group's rows between
    * labels; a dim-key delete), ONE refresh_mv propagates
    * everything. Final state equals the full recompute; every count
    * reduces to a fixture constant DuckDB restates over the bounded
    * doc_id < 600 slice. */
  def aggJoinMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-aggjoinmv-gate")
    try aggJoinMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def aggJoinMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val fact = abs("fact"); val gold = abs("gold")
    // the q58 pooled family (fact <400 + dim + append slice) serves
    // this gate too — one build per JVM across both gates
    FixturePool.cloneTo(s"q58-base:$d", fact,
      reclaimAtExit = true) { dir =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .filter(col("doc_id") < 600)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Versioned.commit(docs.filter(col("doc_id") < 400), dir)
        Versioned.commit(docs.select(col("source")).distinct()
          .withColumn("src_label", upper(col("source"))),
          dir + ".dim")
        Versioned.commit(docs.filter(col("doc_id") >= 400),
          dir + ".app")
      } finally docs.unpersist(blocking = false)
    }
    val dim = fact + ".dim"
    val goldSelect = s"SELECT d.src_label, sum(f.n_chars) AS " +
      s"sum_n_chars, count(f.n_chars) AS cnt_n_chars, count(*) AS " +
      s"n_rows, avg(f.n_chars) AS avg_n_chars FROM graft.`$fact` f " +
      s"JOIN graft.`$dim` d ON f.source = d.source " +
      "WHERE f.n_chars >= 300"
    val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      s"ROW KEY (doc_id) AS $goldSelect GROUP BY d.src_label").head()
    // direct maintenance: NO hidden silver materializes for this
    // invertible shape — the gold is the only table
    val silverAbsent =
      Versioned.currentVersion(s, gold + ".silver") == 0 &&
        Versioned.properties(s, gold).get(MvKindProp)
          .contains("aggjoin")
    // all three legs' edits land, then ONE refresh: fact append, dim
    // relabel (the lexicographically FIRST source's rows MOVE into
    // the RELABELED group), dim-key delete (the LAST source's rows
    // leave the inner join)
    Versioned.append(Versioned.read(s, fact + ".app"), fact)
    val mm = Versioned.read(s, dim)
      .agg(min(col("source")), max(col("source"))).head()
    val (mn, mx) = (mm.getString(0), mm.getString(1))
    import s.implicits._
    Versioned.applyChanges(s, dim,
      upserts = Seq((mn, "RELABELED")).toDF("source", "src_label"),
      deleteKeys = Seq(mx).toDF("source"), key = "source")
    val r = s.sql(s"CALL graft.system.refresh_mv('$gold')").head()
    // state facts in one job; full-recompute equality in one more
    val fin = Versioned.read(s, gold).agg(count(lit(1)).as("g"),
      sum(col("sum_n_chars")).as("sm"),
      sum(when(col("src_label") === "RELABELED", col("n_rows"))
        .otherwise(0L)).as("rl")).head()
    val eq = bagEqual(Versioned.read(s, gold),
      s.sql(goldSelect + " GROUP BY d.src_label"))
    // ONE refresh = ONE destination commit (bootstrap v1 → v2)
    val oneCommit = Versioned.currentVersion(s, gold) == 2
    s.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    val dropped = Versioned.currentVersion(s, gold) == 0
    Seq((if (created.getString(0) == "aggjoin") 1L else 0L,
        if (silverAbsent) 1L else 0L,
        if (r.getString(0) == "aggjoin" && oneCommit) 1L else 0L,
        fin.getLong(0), fin.getLong(1), fin.getLong(2),
        if (eq) 1L else 0L, if (dropped) 1L else 0L))
      .toDF("created_aggjoin", "silver_absent", "refreshed",
        "gold_groups", "gold_sum", "relabeled_rows", "eq_gold",
        "dropped")
  }

  /** Driver-visible gate (q63): MIXED star/chain join-TREE MVs — a
    * star leg (m ON fact) beside a snowflaked leg (r ON d) under ONE
    * aggregate view name. The CREATE peels the fact⋈d hop into the
    * hidden `.snow` silver; the star leg and the chain's second hop
    * both rewrite onto it (now a star), and the invertible gold
    * maintains DIRECTLY (no `.silver`, exactly one hidden level).
    * One refresh propagates a fact append, a STAR-leg relabel, and a
    * CHAIN-leg relabel; the final state bag-equals the full
    * recompute, and every figure restates in DuckDB over the
    * replayed edits. Rides the q58 pooled family — the two
    * mini-dims derive deterministically from the pooled dim. */
  def treeMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-treemv-gate")
    try treeMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def treeMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val fact = abs("fact"); val gold = abs("gold")
    FixturePool.cloneTo(s"q58-base:$d", fact,
      reclaimAtExit = true) { dir =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .filter(col("doc_id") < 600)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Versioned.commit(docs.filter(col("doc_id") < 400), dir)
        Versioned.commit(docs.select(col("source")).distinct()
          .withColumn("src_label", upper(col("source"))),
          dir + ".dim")
        Versioned.commit(docs.filter(col("doc_id") >= 400),
          dir + ".app")
      } finally docs.unpersist(blocking = false)
    }
    val dim = fact + ".dim"
    // gate-local mini-dims, derived deterministically from the
    // pooled dim snapshot: a STAR leg keyed on the fact's source
    // column, and a CHAIN leg keyed on the dim's src_label
    val m = abs("m"); val r = abs("r")
    val dimDf = Versioned.read(s, dim)
    Versioned.commit(dimDf.select(col("source").as("src2"))
      .withColumn("m_label", concat(lit("M-"), upper(col("src2")))),
      m)
    Versioned.commit(dimDf.select(col("src_label").as("lbl"))
      .distinct()
      .withColumn("region", concat(lit("R-"), col("lbl"))), r)
    val goldSelect = s"SELECT r.region, m.m_label, " +
      "sum(f.n_chars) AS sum_n_chars, count(f.n_chars) AS " +
      s"cnt_n_chars, count(*) AS n_rows FROM graft.`$fact` f " +
      s"JOIN graft.`$dim` d ON f.source = d.source " +
      s"JOIN graft.`$m` m ON f.source = m.src2 " +
      s"JOIN graft.`$r` r ON d.src_label = r.lbl " +
      "WHERE f.n_chars >= 300"
    val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      s"ROW KEY (doc_id) AS $goldSelect " +
      "GROUP BY r.region, m.m_label").head()
    // exactly ONE hidden level (the peeled fact⋈d hop), and the
    // invertible gold maintains directly — no .silver, no .snow2
    val snowPresent =
      Versioned.currentVersion(s, gold + ".snow") > 0 &&
        Versioned.currentVersion(s, gold + ".snow2") == 0
    val silverAbsent =
      Versioned.currentVersion(s, gold + ".silver") == 0 &&
        Versioned.properties(s, gold).get(MvKindProp)
          .contains("aggjoin")
    // one edit per leg class, then ONE cascaded refresh: a fact
    // append, the STAR leg relabels min(source)'s m_label, the
    // CHAIN leg relabels max(source)'s region
    Versioned.append(Versioned.read(s, fact + ".app"), fact)
    val mm = Versioned.read(s, dim).agg(min(col("source")),
      max(struct(col("source"), col("src_label")))).head()
    val mn = mm.getString(0)
    val mxLbl = mm.getStruct(1).getString(1)
    import s.implicits._
    Versioned.upsert(s, m,
      Seq((mn, "M-RELABELED")).toDF("src2", "m_label"), "src2")
    Versioned.upsert(s, r,
      Seq((mxLbl, "R-MOVED")).toDF("lbl", "region"), "lbl")
    val rr = s.sql(s"CALL graft.system.refresh_mv('$gold')").head()
    // state facts in one job; full-recompute equality in one more
    val fin = Versioned.read(s, gold).agg(count(lit(1)).as("g"),
      sum(col("sum_n_chars")).as("sm"),
      sum(when(col("m_label") === "M-RELABELED", col("n_rows"))
        .otherwise(0L)).as("rl"),
      sum(when(col("region") === "R-MOVED", col("n_rows"))
        .otherwise(0L)).as("mv")).head()
    val eq = bagEqual(Versioned.read(s, gold),
      s.sql(goldSelect + " GROUP BY r.region, m.m_label"))
    s.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    val dropped = Versioned.currentVersion(s, gold) == 0 &&
      Versioned.currentVersion(s, gold + ".snow") == 0
    Seq((if (created.getString(0) == "aggjoin") 1L else 0L,
        if (snowPresent) 1L else 0L,
        if (silverAbsent) 1L else 0L,
        if (rr.getString(0) == "aggjoin") 1L else 0L,
        fin.getLong(0), fin.getLong(1), fin.getLong(2),
        fin.getLong(3),
        if (eq) 1L else 0L, if (dropped) 1L else 0L))
      .toDF("created_aggjoin", "snow_present", "silver_absent",
        "refreshed", "gold_groups", "gold_sum", "star_relabeled_rows",
        "chain_moved_rows", "eq_gold", "dropped")
  }

  /** Driver-visible gate (q64): AUTOMATIC QUERY REWRITE over a
    * registered aggregate MV ([[graft.plans.MvRewriteRule]]) — a
    * matching GROUP BY query over the SOURCE serves from the view
    * when the view's pin equals the scanned snapshot. The gate
    * asserts the substitution PHYSICALLY (the executed plan's scan
    * locations name the view's directory, and stop doing so the
    * moment a source commit stales the pin), and every figure the
    * rewritten plans return restates in DuckDB over the raw slice —
    * the rewrite changes cost, never results. */
  def rewriteMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-rwmv-gate")
    try rewriteMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def rewriteMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val src = abs("src"); val mv = abs("mv")
    // the q57/q60 pooled family (docs<400 base + .app slice)
    cloneMvShapeSrc(s, d, src)
    s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` ROW KEY (doc_id) " +
      s"AS SELECT source, sum(n_chars) AS sum_n_chars, " +
      "count(n_chars) AS cnt_n_chars, count(*) AS n_rows " +
      s"FROM graft.`$src` GROUP BY source")
    s.sql(s"CALL graft.system.enable_rewrite('$mv')")
    def served(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains(mv)
    def rollup() = s.sql(s"SELECT source, sum(n_chars) AS sm, " +
      s"count(*) AS n FROM graft.`$src` GROUP BY source")
    // exact-group rollup serves from the view (physically asserted)
    val q1 = rollup()
    val rewroteExact = served(q1)
    val f1 = q1.agg(count(lit(1)).as("g"),
      sum(col("sm")).cast("long").as("sm"),
      sum(col("n")).as("n")).head()
    // the GLOBAL twin re-aggregates the view (count via coalesced
    // n_rows sum, avg via the exact sum/cnt quotient)
    val g1 = s.sql(s"SELECT count(*) AS n, avg(n_chars) AS a " +
      s"FROM graft.`$src`")
    val rewroteGlobal = served(g1)
    val gRow = g1.head()
    // a source commit stales the pin: the SAME query falls back to
    // the scan — and stays correct over the appended rows
    Versioned.append(Versioned.read(s, src + ".app"), src)
    val q2 = rollup()
    val staleScan = !served(q2)
    val f2 = q2.agg(sum(col("sm")).cast("long").as("sm"),
      sum(col("n")).as("n")).head()
    // refresh re-pins: the rewrite resumes, figures unchanged
    s.sql(s"CALL graft.system.refresh_mv('$mv')")
    val q3 = rollup()
    val servedAfter = served(q3)
    val f3 = q3.agg(sum(col("sm")).cast("long").as("sm"),
      sum(col("n")).as("n")).head()
    val eqRefresh = f2.getLong(0) == f3.getLong(0) &&
      f2.getLong(1) == f3.getLong(1)
    // disable deregisters: the same query scans again
    s.sql(s"CALL graft.system.disable_rewrite('$mv')")
    val disabledScan = !served(rollup())
    s.sql(s"DROP MATERIALIZED VIEW graft.`$mv`")
    import s.implicits._
    Seq((1L, if (rewroteExact) 1L else 0L, f1.getLong(0),
        f1.getLong(1), f1.getLong(2),
        if (rewroteGlobal) 1L else 0L, gRow.getDouble(1),
        if (staleScan) 1L else 0L, f2.getLong(0), f2.getLong(1),
        if (servedAfter) 1L else 0L, if (eqRefresh) 1L else 0L,
        if (disabledScan) 1L else 0L))
      .toDF("registered", "rewrote_exact", "groups_v1", "sum_v1",
        "rows_v1", "rewrote_global", "avg_v1", "stale_scan",
        "sum_v2", "rows_v2", "served_after_refresh", "eq_refresh",
        "disabled_scan")
  }

  /** Driver-visible gate (q60): DISTINCT-COUNT measures in an
    * aggregate MV, both spellings over ONE pooled source —
    * `approx_count_distinct(lang) AS adc_lang` stores the HLL
    * estimate plus the mergeable sketch, maintained through an
    * INSERT-ONLY refresh (sketch merge, no recompute read) and a
    * LOSS batch (a lang update + key deletes — the affected groups
    * recompute their sketches from the pinned snapshot); and the
    * EXACT twin `count(DISTINCT lang) AS cd_lang`, which recomputes
    * the touched groups on EVERY refresh (exact distinct is
    * non-invertible in both directions — the extrema discipline
    * extended to the insert path). At the fixture's cardinalities
    * the sketch is EXACT (LIST/SET coupon mode), so estimates and
    * exact counts alike restate as DuckDB's count(DISTINCT) over the
    * same replayed edits — hash facts, not tolerances. */
  def distinctMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-adcmv-gate")
    try distinctMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def distinctMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val src = abs("src"); val mv = abs("mv"); val cdmv = abs("cdmv")
    // the pooled source family q57 shares (see [[cloneMvShapeSrc]])
    cloneMvShapeSrc(s, d, src)
    // the sketch view and its EXACT twin (count(DISTINCT lang)) are
    // INDEPENDENT destinations over the same immutable source
    // snapshot — every lifecycle step runs both legs concurrently
    // ([[concurrently]]): each leg is ~half driver-side gaps, and the
    // overlap hides one leg's gaps behind the other's jobs
    concurrently(
      () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` ROW KEY " +
        s"(doc_id) AS SELECT source, sum(n_chars) AS sum_n_chars, " +
        "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
        s"approx_count_distinct(lang) AS adc_lang FROM graft.`$src` " +
        "GROUP BY source"),
      // the EXACT twin over the SAME source clone: every refresh
      // recomputes the touched groups (both the insert-only and the
      // loss batch below)
      () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$cdmv` ROW KEY " +
        s"(doc_id) AS SELECT source, sum(n_chars) AS sum_n_chars, " +
        "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
        s"count(DISTINCT lang) AS cd_lang FROM graft.`$src` " +
        "GROUP BY source"))
    // insert-only append → the MERGE path for the sketch MV (no
    // recompute read) and the recompute path for the exact MV
    Versioned.append(Versioned.read(s, src + ".app"), src)
    concurrently(
      () => s.sql(s"CALL graft.system.refresh_mv('$mv')"),
      () => s.sql(s"CALL graft.system.refresh_mv('$cdmv')"))
    // loss batch: one row's lang moves to a brand-new value and
    // every doc_id % 50 == 0 dies → the RECOMPUTE path; the edit
    // inputs derive from the source itself (post-append it IS the
    // bounded slice)
    val all = Versioned.read(s, src)
    Versioned.applyChanges(s, src,
      upserts = all.filter(col("doc_id") === 1)
        .withColumn("lang", lit("zz")),
      deleteKeys = all.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id")),
      key = "doc_id")
    concurrently(
      () => s.sql(s"CALL graft.system.refresh_mv('$mv')"),
      () => s.sql(s"CALL graft.system.refresh_mv('$cdmv')"))
    // BOTH MVs' three lifecycle states' facts in ONE tagged job
    // (snapshots are immutable — the time-travel reads ARE the
    // states); the exact MV's per-state sums must equal the sketch
    // MV's (the sketch is exact at these cardinalities)
    def st(df: DataFrame, c: String, tag: String): DataFrame =
      df.select(lit(tag).as("t"), col(c).cast("long").as("a"))
    val stats = st(Versioned.read(s, mv, Some(1)), "adc_lang", "v1")
      .unionByName(st(Versioned.read(s, mv, Some(2)), "adc_lang",
        "v2"))
      .unionByName(st(Versioned.read(s, mv), "adc_lang", "v3"))
      .unionByName(st(Versioned.read(s, cdmv, Some(1)), "cd_lang",
        "c1"))
      .unionByName(st(Versioned.read(s, cdmv, Some(2)), "cd_lang",
        "c2"))
      .unionByName(st(Versioned.read(s, cdmv), "cd_lang", "c3"))
      .groupBy(col("t")).agg(count(lit(1)).as("g"), sum(col("a"))
        .as("a"))
      .collect().map(r => r.getString(0) -> r).toMap
    // the DEFINITIONS' columns (estimate and exact alike) equal the
    // EXACT recompute — count(DISTINCT lang) — one signed-union job
    // each
    def exactSql(alias: String) =
      s.sql("SELECT source, sum(n_chars) AS sum_n_chars, " +
        "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
        s"count(DISTINCT lang) AS $alias FROM graft.`$src` " +
        "GROUP BY source")
    val Seq(eq, eqCd) = concurrently(
      () => bagEqual(
        Versioned.read(s, mv).select(col("source"),
          col("sum_n_chars"), col("cnt_n_chars"), col("n_rows"),
          col("adc_lang")),
        exactSql("adc_lang")),
      () => bagEqual(Versioned.read(s, cdmv), exactSql("cd_lang")))
    val specOk = Versioned.properties(s, mv)
      .get(MvDistinctProp).contains("lang")
    val specCdOk = Versioned.properties(s, cdmv)
      .get(MvExactDistinctProp).contains("lang")
    import s.implicits._
    Seq((stats("v1").getLong(1), stats("v1").getLong(2),
        stats("v2").getLong(1), stats("v2").getLong(2),
        stats("v3").getLong(1), stats("v3").getLong(2),
        stats("c1").getLong(2), stats("c2").getLong(2),
        stats("c3").getLong(2),
        if (eq) 1L else 0L, if (eqCd) 1L else 0L,
        if (specOk) 1L else 0L, if (specCdOk) 1L else 0L))
      .toDF("groups_v1", "adcsum_v1", "groups_v2", "adcsum_v2",
        "groups_v3", "adcsum_v3", "cdsum_v1", "cdsum_v2", "cdsum_v3",
        "eq_exact", "eq_exact_cd", "spec_distinct", "spec_exact")
  }

  /** The pooled SOURCE family q62 uses: a BOUNDED lineitem slice
    * (l_orderkey < 2000, ~8k rows at any SF — the gate proves the
    * expression-measure lifecycle, not scan throughput) with a
    * synthetic single-column row id (rid = row_number over a total
    * order on every column — the synthetic fixture repeats
    * (l_orderkey, l_linenumber) pairs, so the TPC-H-style arithmetic
    * encoding collides), split at 1200 (base + `.app`). */
  private def cloneMvLineSrc(s: SparkSession, d: String,
      src: String): Unit =
    FixturePool.cloneTo(s"mvline:$d", src, reclaimAtExit = true) {
      dir =>
        // rid: a deterministic ROW identity. The fixture repeats
        // (l_orderkey, l_linenumber) pairs with differing values, so
        // arithmetic over them collides — number the slice under a
        // total ORDER over every column instead (ties only between
        // fully identical rows, where either assignment is the same
        // multiset — DuckDB replays the identical numbering)
        val ord = org.apache.spark.sql.expressions.Window.orderBy(
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_quantity"), col("l_returnflag"), col("l_linestatus"))
        val li = Tables.load(s, d, "lineitem")
          .filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax"))
          .withColumn("rid", row_number().over(ord).cast("long"))
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(li.filter(col("l_orderkey") < 1200), dir)
          Versioned.commit(li.filter(col("l_orderkey") >= 1200),
            dir + ".app")
        } finally li.unpersist(blocking = false)
    }

  /** Driver-visible gate (q62): EXPRESSION-VALUED measures — the
    * TPC-H Q1 pricing summary as ONE delta-maintained MV.
    * `sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS
    * sum_discc` (and the base/charge/qty twins) each materialize a
    * derived value column on every snapshot-side read; the measures
    * stay in exact integer CENTS (floor over IEEE doubles is
    * engine-stable), so the algebraic patches are exact and every
    * per-state figure restates as a DuckDB hash fact over the same
    * replayed edits (append, a discount update, modulo deletes). */
  def exprMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-exprmv-gate")
    try exprMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def exprMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val src = abs("src"); val mv = abs("mv")
    cloneMvLineSrc(s, d, src)
    val qty = "floor(l_quantity * 100)"
    val base = "floor(l_extendedprice * 100)"
    val disc = "floor(l_extendedprice * (1 - l_discount) * 100)"
    val charge =
      "floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)"
    val defSel = "SELECT l_returnflag, l_linestatus, " +
      s"sum($qty) AS sum_qtyc, count($qty) AS cnt_qtyc, " +
      s"sum($base) AS sum_basec, count($base) AS cnt_basec, " +
      s"sum($disc) AS sum_discc, count($disc) AS cnt_discc, " +
      s"sum($charge) AS sum_chargec, count($charge) AS cnt_chargec, " +
      "count(*) AS n_rows, " +
      s"avg($qty) AS avg_qtyc, avg($base) AS avg_basec, " +
      s"avg($disc) AS avg_discc FROM "
    val groupTail = "GROUP BY l_returnflag, l_linestatus"
    val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` " +
      s"ROW KEY (rid) AS $defSel graft.`$src` $groupTail").head()
    // insert-only append → the pure algebraic patch on the derived
    // stream (no recompute read: every measure here is invertible)
    Versioned.append(Versioned.read(s, src + ".app"), src)
    s.sql(s"CALL graft.system.refresh_mv('$mv')")
    // mixed batch: a discount update moves three derived measures in
    // place, modulo deletes shrink every group
    val all = Versioned.read(s, src)
    Versioned.applyChanges(s, src,
      upserts = all.filter(col("l_linenumber") === 1 &&
          col("l_orderkey") % 500 === 0)
        .withColumn("l_discount", lit(0.5)),
      deleteKeys = all.filter(col("rid") % 37 === 0)
        .select(col("rid")),
      key = "rid")
    s.sql(s"CALL graft.system.refresh_mv('$mv')")
    // the three states' facts in ONE tagged job
    def st(df: DataFrame, tag: String): DataFrame =
      df.select(lit(tag).as("t"), col("sum_discc").as("dc"),
        col("sum_chargec").as("ch"))
    val stats = st(Versioned.read(s, mv, Some(1)), "v1")
      .unionByName(st(Versioned.read(s, mv, Some(2)), "v2"))
      .unionByName(st(Versioned.read(s, mv), "v3"))
      .groupBy(col("t")).agg(count(lit(1)).as("g"),
        sum(col("dc")).as("dc"), sum(col("ch")).as("ch"))
      .collect().map(r => r.getString(0) -> r).toMap
    // the DEFINITION (sums, counts, and stored avg quotients alike)
    // equals a full recompute — one signed-union job
    val eq = bagEqual(Versioned.read(s, mv),
      s.sql(s"$defSel graft.`$src` $groupTail"))
    // the spec persists one argument text per derived measure name
    val specN = Versioned.properties(s, mv).keys
      .count(_.startsWith(MvValueExprPrefix)).toLong
    import s.implicits._
    Seq((if (created.getString(0) == "agg") 1L else 0L,
        stats("v1").getLong(1), stats("v1").getLong(2),
        stats("v2").getLong(1), stats("v2").getLong(2),
        stats("v3").getLong(1), stats("v3").getLong(2),
        stats("v3").getLong(3),
        if (eq) 1L else 0L, specN))
      .toDF("created_agg", "groups_v1", "discsum_v1", "groups_v2",
        "discsum_v2", "groups_v3", "discsum_v3", "chargesum_v3",
        "eq_recompute", "spec_exprs")
  }

  /** Driver-visible gate (q61): KLL QUANTILE-SKETCH measures in an
    * aggregate MV — `graft_kll(n_chars) AS kll_n_chars` stores
    * mergeable percentile state per group, maintained through an
    * INSERT-ONLY refresh (sketch merge) and a LOSS batch (deletes +
    * a value update — affected groups recompute). At the fixture's
    * sub-k cardinalities the sketch is EXACT, so the p100 quantile
    * per group IS the group max — DuckDB restates those sums over
    * the replayed edits — and the p50 equality against Spark's own
    * percentile_disc recompute reduces to a 0/1 flag. */
  def kllMvGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-kllmv-gate")
    try kllMvGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def kllMvGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    def abs(n: String) = work.resolve(n).toAbsolutePath.toString
    val src = abs("src"); val mv = abs("mv")
    // the q57/q60 pooled family (docs<400 base + .app slice)
    cloneMvShapeSrc(s, d, src)
    s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` ROW KEY (doc_id) " +
      s"AS SELECT source, sum(n_chars) AS sum_n_chars, " +
      "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
      s"graft_kll(n_chars) AS kll_n_chars FROM graft.`$src` " +
      "GROUP BY source")
    // insert-only append → the sketch MERGE path
    Versioned.append(Versioned.read(s, src + ".app"), src)
    s.sql(s"CALL graft.system.refresh_mv('$mv')")
    // loss batch: one value rewritten to a new per-group maximum and
    // every doc_id % 50 == 0 deleted → the RECOMPUTE path
    val all = Versioned.read(s, src)
    Versioned.applyChanges(s, src,
      upserts = all.filter(col("doc_id") === 1)
        .withColumn("n_chars", lit(99999L)),
      deleteKeys = all.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id")),
      key = "doc_id")
    s.sql(s"CALL graft.system.refresh_mv('$mv')")
    // the three states' facts in ONE tagged job: per-version group
    // count and the sum of per-group p100 (= exact max at sub-k
    // cardinality — the cross-engine-unambiguous rank)
    def st(df: DataFrame, tag: String): DataFrame =
      df.select(lit(tag).as("t"),
        call_function("graft_kll_quantile", col("kll_n_chars"),
          lit(1.0)).cast("long").as("p100"))
    val stats = st(Versioned.read(s, mv, Some(1)), "v1")
      .unionByName(st(Versioned.read(s, mv, Some(2)), "v2"))
      .unionByName(st(Versioned.read(s, mv), "v3"))
      .groupBy(col("t")).agg(count(lit(1)).as("g"),
        sum(col("p100")).as("p")).collect()
      .map(r => r.getString(0) -> r).toMap
    // p50 equality against the engine's own exact percentile — one
    // job; both sides are order statistics on the same sub-k data
    val eq = bagEqual(
      Versioned.read(s, mv).select(col("source"),
        call_function("graft_kll_quantile", col("kll_n_chars"),
          lit(0.5)).as("p50")),
      s.sql("SELECT source, percentile_disc(0.5) WITHIN GROUP " +
        s"(ORDER BY CAST(n_chars AS DOUBLE)) AS p50 FROM " +
        s"graft.`$src` GROUP BY source"))
    val specOk = Versioned.properties(s, mv)
      .get(MvKllProp).contains("n_chars")
    import s.implicits._
    Seq((stats("v1").getLong(1), stats("v1").getLong(2),
        stats("v2").getLong(1), stats("v2").getLong(2),
        stats("v3").getLong(1), stats("v3").getLong(2),
        if (eq) 1L else 0L, if (specOk) 1L else 0L))
      .toDF("groups_v1", "p100sum_v1", "groups_v2", "p100sum_v2",
        "groups_v3", "p100sum_v3", "eq_p50", "spec_kll")
  }

  /** Driver-visible gate (q52): a curated projection of the documents
    * table maintained through bootstrap → source append → one atomic
    * mixed batch (updates crossing the filter boundary in BOTH
    * directions + key deletes), each step advanced by [[refresh]] and
    * the final state checked row-for-row against a full recompute.
    * All facts reduce to constants DuckDB derives from the fixture. */
  def derivedRefreshGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-derived-gate")
    try derivedRefreshGateBody(s, d, work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  /** The pooled SOURCE family q52/q54/q55 share: the (doc_id,
    * source, n_chars) projection of the documents fixture, committed
    * as base = doc_id < 300 with the ≥ 300 slice at `.app` — every
    * MV lifecycle gate starts from exactly this split, so the
    * fixture scan and the two source commits leave the per-run path
    * (the q58 pooled-base discipline); each run still clones the
    * family and exercises bootstrap / append / refresh / CDC batches
    * LIVE, which are the operators the gates measure. */
  private def cloneMvDocsSrc(s: SparkSession, d: String,
      src: String): Unit =
    FixturePool.cloneTo(s"mvdocs3:$d", src, reclaimAtExit = true) {
      dir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(docs.filter(col("doc_id") < 300), dir)
          Versioned.commit(docs.filter(col("doc_id") >= 300),
            dir + ".app")
        } finally docs.unpersist(blocking = false)
    }

  private def derivedRefreshGateBody(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    val src = work.resolve("src").toString
    val dst = work.resolve("dst").toString
    val t: DataFrame => DataFrame =
      _.filter(col("n_chars") >= 300)
        .select(col("doc_id"), col("source"),
          (col("n_chars") * 2).as("weight"))
    cloneMvDocsSrc(s, d, src)
    refresh(s, src, dst, "doc_id", t)
    val c1 = Versioned.read(s, dst).count()
    Versioned.append(Versioned.read(s, src + ".app"), src)
    refresh(s, src, dst, "doc_id", t)
    val c2 = Versioned.read(s, dst).count()
    // the edit inputs derive from the source itself (post-append it
    // IS the full docs projection) — no fixture rescan
    val all = Versioned.read(s, src)
    // one atomic CDC batch: two rows updated BELOW the filter bar,
    // two updated above it, plus key deletes — dst must drop the
    // fallers, adopt the risers, and forget the deleted keys
    val updates = all.filter(col("doc_id").isin(1L, 2L, 3L, 4L, 5L))
      .withColumn("n_chars",
        when(col("doc_id") <= 3, lit(0L)).otherwise(lit(9999L)))
    Versioned.applyChanges(s, src, upserts = updates,
      deleteKeys = all.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id")),
      key = "doc_id")
    val (rFrom, rTo) = refresh(s, src, dst, "doc_id", t)
    val c3 = Versioned.read(s, dst).count()
    // full-recompute equality, row-for-row including duplicates —
    // one signed-union shuffle, see [[bagEqual]]
    val eq = bagEqual(Versioned.read(s, dst), t(Versioned.read(s, src)))
    // a no-op refresh must not publish a new destination version
    val vBefore = Versioned.currentVersion(s, dst)
    val noop = refresh(s, src, dst, "doc_id", t)
    val noopOk = noop == ((rTo, rTo)) &&
      Versioned.currentVersion(s, dst) == vBefore
    // refusing a pin-less destination is part of the contract
    val plain = work.resolve("plain").toString
    Versioned.commit(Versioned.read(s, src).limit(3), plain)
    val refused = scala.util.Try(
      refresh(s, src, plain, "doc_id", t)).isFailure
    import s.implicits._
    Seq((c1, c2, c3, rFrom.toLong, rTo.toLong,
        if (eq) 1L else 0L, if (noopOk) 1L else 0L,
        if (refused) 1L else 0L))
      .toDF("rows_v1", "rows_v2", "rows_v3", "refresh_from",
        "refresh_to", "eq_full_recompute", "noop_stable",
        "refused_unpinned")
  }
}
