package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BoundReference, Cast, Coalesce, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DateType, LongType, StringType, TimestampNTZType, TimestampType}

import graft.engine.Staged

/** Materialized-view EXACT-MATCH substitution — the engine's third
  * optimizer-tier extension (beside the kernel-fusion rule and the as-of
  * operator tier): a registered daily rollup answers the canonical
  * aggregation over raw events from a CALENDAR-sized table instead of the
  * fact scan. At 100 TB this is the difference between a full-corpus
  * shuffle and reading a few thousand pre-aggregated rows — the classic
  * summary-table pattern (Oracle/Calcite "materialized view rewrite"),
  * done here in two tiers: EXACT plan matching (cat3 — the query's
  * aggregate subtree is canonically identical to the view's defining
  * query, answered by a plain projection), and roll-up COMPENSATION
  * (cat4 — a COARSER aggregation whose keys are expressions over the
  * view's keys and whose aggregates are algebraic over the stored
  * partials, answered by re-aggregating the view). Both fire only on
  * structurally-proven matches, so neither can change semantics.
  *
  * Exactness discipline: the view stores counts and EXACT integer cents
  * (`sum(cast(round(value*100) as bigint))`), so the substituted answer
  * is bit-identical to the raw aggregation — no fp re-aggregation drift —
  * which is what lets the declared query stay fully DuckDB-oracled
  * against the RAW events table while its Spark plan never touches it.
  *
  * Staleness: the staged view is keyed on `datasetFingerprint`, the same
  * memo-invalidations discipline as the IVF/BPE artifacts — a dataset
  * regenerated in place re-stages the view instead of serving stale rows —
  * AND the fingerprint captured at stage time is re-checked at rewrite
  * time, so a registered view whose dataset changed underneath it
  * deregisters itself instead of substituting.
  */
object MatViews {

  /** Rewrite guard: view staging and expected-result computations run
    * with the rule off (also breaks the template-construction recursion).
    * A JVM-global depth counter, not a ThreadLocal: Spark may optimize a
    * plan on a thread other than the caller's (streaming query threads,
    * async actions, AQE re-optimization), and a thread-scoped guard would
    * silently fail there. Globally suppressing the rewrite while any
    * staging/expected-result computation is in flight is always safe —
    * the rule is an optimization, never a semantic requirement.
    */
  private[plans] val bypassDepth = new java.util.concurrent.atomic.AtomicInteger(0)
  private[plans] def bypassed: Boolean = bypassDepth.get() > 0
  def withoutRewrite[T](f: => T): T = {
    bypassDepth.incrementAndGet()
    try f finally bypassDepth.decrementAndGet()
  }

  /** One registered view: its parquet dir, the canonicalized defining
    * plan, the source dataset dir, the dataset fingerprint captured at
    * stage time (re-checked at rewrite time so an in-place dataset
    * regeneration can never be answered from the stale view), and the
    * NORMALIZED key/partial expressions of the defining aggregate —
    * what the roll-up compensation matcher (cat4) derives coarser
    * queries from.
    */
  private[plans] final case class MvEntry(
      mv: String, template: LogicalPlan, datasetDir: String, fingerprint: String,
      dayNorm: Expression, etNorm: Expression, centsNorm: Expression,
      manifest: Map[String, (Long, Long)] = Map.empty, rows: Long = 0L,
      partitionCol: Option[String] = None, keyNdv: Long = 0L)

  /** Normalize an expression for cross-plan comparison: attribute
    * references become `BoundReference`s at their ordinal in the
    * relation's full data schema (name-keyed — stable across two scans
    * of the same parquet however each plan pruned its columns), then
    * canonicalize. Two plans over the same table produce equal
    * normalized forms iff the expressions are the same computation.
    */
  private[plans] def normalizeToSchema(e: Expression, rel: LogicalRelation): Expression = {
    val schema = rel.relation.schema
    val ord = rel.output.collect {
      case a: AttributeReference if schema.fieldNames.contains(a.name) =>
        a.exprId -> schema.fieldIndex(a.name)
    }.toMap
    e.transform {
      case a: AttributeReference if ord.contains(a.exprId) =>
        BoundReference(ord(a.exprId), a.dataType, nullable = true)
    }.canonicalized
  }

  private[plans] def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case other => other
  }

  /** Substitute references to aliases defined in `plan`'s Projects by
    * the aliased computation, to fixpoint — undoes both the optimizer's
    * PullOutGroupingExpressions (which hides a grouping key behind a
    * `_groupingexpression` attribute in a fully-optimized plan) and any
    * reader-side normalization Projects, so expressions compare in
    * terms of raw relation columns only.
    */
  private[plans] def inlineProjectAliases(e: Expression, plan: LogicalPlan): Expression = {
    val aliasMap = plan.collect { case p: Project => p.projectList }
      .flatten.collect { case al: Alias => al.exprId -> al.child }.toMap
    @annotation.tailrec
    def go(x: Expression): Expression = {
      val r = x.transformUp {
        case a: AttributeReference if aliasMap.contains(a.exprId) =>
          aliasMap(a.exprId)
      }
      if (r.fastEquals(x)) r else go(r)
    }
    go(e)
  }

  /** canonical events.parquet path -> registered view entry */
  private[plans] val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvEntry]

  def canonicalSrc(d: String): String =
    new java.io.File(s"$d/events.parquet").getAbsolutePath

  /** The canonical daily-rollup shape the rule recognizes: per (day,
    * event_type) the event count and the exact-cents value sum.
    */
  def naiveDailyRollup(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))

  /** Build an MvEntry for a single-relation daily/monthly-shaped rollup:
    * extract the defining aggregate's normalized DATE key, STRING key and
    * exact-cents Sum child — the vocabulary coarser queries must be
    * expressible in for cat4/cat8 compensation.
    */
  /** Extract the normalized (day key, string key, exact-cents Sum child)
    * from a single-relation daily/monthly-shaped rollup's optimized
    * plan — shared by the plain-dir entries and the tt-store (st29) one.
    */
  private def deriveSingleRelNorms(opt: LogicalPlan)
      : (Expression, Expression, Expression) =
    opt.collect { case a: Aggregate => a }
      .headOption.map { a =>
        val rel = a.collectFirst { case l: LogicalRelation => l }.get
        val gs = a.groupingExpressions
          .map(g => inlineProjectAliases(stripAlias(g), a))
        val day = gs.find(_.dataType == DateType).get
        val et = gs.find(_.dataType == StringType).get
        val cents = a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction
        }).collectFirst { case sm: Sum => inlineProjectAliases(sm.child, a) }.get
        (normalizeToSchema(day, rel), normalizeToSchema(et, rel),
          normalizeToSchema(cents, rel))
      }.get

  private def singleRelEntry(s: SparkSession, mv: String, d: String,
      fp: String, defining: DataFrame,
      partitionCol: Option[String] = None): MvEntry = {
    val opt = withoutRewrite { defining.queryExecution.optimizedPlan }
    val (dayNorm, etNorm, centsNorm) = deriveSingleRelNorms(opt)
    val nRows = withoutRewrite { s.read.parquet(mv).count() } // view-sized
    // ANALYZE-style column stat, computed once at registration over the
    // VIEW (never the fact table): the day key's NDV feeds the
    // stats-driven chooser's post-filter cost estimate (cat9) — a
    // day-equality predicate selects ~rows/NDV of a view, and whether
    // that estimate is realizable as SCAN reduction depends on the
    // view's physical layout (partitionCol).
    val ndv = withoutRewrite {
      s.read.parquet(mv).select("day").distinct().count()
    }
    MvEntry(mv, opt.canonicalized, d, fp, dayNorm, etNorm, centsNorm,
      listDataFiles(canonicalSrc(d)), nRows, partitionCol, ndv)
  }

  /** Stage (memoized) the daily rollup for dataset `d` and register it
    * for rewrite. Returns the view directory.
    */
  def stageDailyRollup(s: SparkSession, d: String): String = {
    val fp = graft.Tables.datasetFingerprint(canonicalSrc(d))
    val mv = Staged.dir(s, "mv_daily", canonicalSrc(d)) {
      val dir = graft.Tables.scratchDir("graft_mv_daily", d)
      withoutRewrite {
        naiveDailyRollup(s, d).write.mode("overwrite").parquet(dir)
      }
      dir
    }
    registry.put(canonicalSrc(d),
      singleRelEntry(s, mv, d, fp, naiveDailyRollup(s, d)))
    mv
  }

  // ---- cat8: a SECOND, coarser view over the same source — the rule
  // picks the cheapest matching candidate ----

  /** The monthly rollup view: same shape as the daily one, one decade
    * coarser. Its Date key column is NAMED `day` (holding the month
    * start) so the whole single-relation compensation machinery —
    * viewScan, rollupSwap, maintenance — applies verbatim; what
    * distinguishes it is its defining key expression
    * `trunc(to_date(ts), 'mon')`, which is what queries match against.
    */
  def naiveMonthlyRollup(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy(trunc(to_date(col("ts")), "mon").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))

  /** events path -> registered coarser (monthly) view */
  private[plans] val coarseRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, MvEntry]

  /** Stage (memoized) the monthly rollup for dataset `d` and register it
    * as a SECOND rewrite candidate beside the daily view. Returns the
    * view directory.
    */
  def stageMonthlyRollup(s: SparkSession, d: String): String = {
    val fp = graft.Tables.datasetFingerprint(canonicalSrc(d))
    val mv = Staged.dir(s, "mv_monthly", canonicalSrc(d)) {
      val dir = graft.Tables.scratchDir("graft_mv_monthly", d)
      withoutRewrite {
        naiveMonthlyRollup(s, d).write.mode("overwrite").parquet(dir)
      }
      dir
    }
    coarseRegistry.put(canonicalSrc(d),
      singleRelEntry(s, mv, d, fp, naiveMonthlyRollup(s, d)))
    mv
  }

  // ---- cat9: a PHYSICALLY day-partitioned copy of the daily view —
  // same defining query, same row count, different layout ----

  /** events path -> registered day-PARTITIONED daily view */
  private[plans] val partRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, MvEntry]

  /** Stage (memoized) the daily rollup AGAIN, hive-partitioned by day,
    * and register it as a third candidate. Logically redundant with the
    * unpartitioned daily view — identical defining query, identical row
    * count — which is exactly the point: row-count ordering (cat8)
    * cannot tell them apart, but for a day-selective query the
    * partitioned layout answers by reading ONE day directory while the
    * unpartitioned file must be scanned whole. The stats-driven chooser
    * (cat9) sees the difference through (partitionCol, keyNdv).
    */
  def stagePartitionedDailyRollup(s: SparkSession, d: String): String = {
    val fp = graft.Tables.datasetFingerprint(canonicalSrc(d))
    val mv = Staged.dir(s, "mv_daily_part", canonicalSrc(d)) {
      val dir = graft.Tables.scratchDir("graft_mv_daily_part", d)
      withoutRewrite {
        naiveDailyRollup(s, d).write.mode("overwrite")
          .partitionBy("day").parquet(dir)
      }
      dir
    }
    partRegistry.put(canonicalSrc(d),
      singleRelEntry(s, mv, d, fp, naiveDailyRollup(s, d),
        partitionCol = Some("day")))
    mv
  }

  // ---- cat12: the DISTINCT-KEYS view — a pre-deduplicated
  // (day, event_type, user_id) fact for COUNT(DISTINCT) rewrites ----

  /** The distinct-keys view: one row per (day, event_type, user_id)
    * actually present in the facts. COUNT(DISTINCT) is NOT algebraic
    * over the summary views' (n, cents) partials — no merge of counts
    * can recover it — but it IS exactly re-aggregable over the distinct
    * tuple set itself: any projection of a distinct set stays
    * distinct-countable, so a coarser distinct count (by day alone, by
    * event_type alone) re-runs the distinct over view rows and equals
    * the raw answer bit-for-bit.
    */
  def naiveDistinctUsers(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
      .distinct()

  /** events path -> registered distinct-keys view */
  private[plans] val distinctRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, MvEntry]

  /** Entry for the distinct-keys view. Day/et keys as usual; the
    * centsNorm SLOT carries the normalized DISTINCT key expression
    * (user_id) — the child cat12's matcher proves COUNT(DISTINCT …)
    * against (a deduped view has no Sum partial, so the slot is free
    * and the matcher that reads it is distinctSwap only).
    */
  private def distinctRelEntry(s: SparkSession, mv: String, d: String,
      fp: String, defining: DataFrame): MvEntry = {
    val opt = withoutRewrite { defining.queryExecution.optimizedPlan }
    val a = opt.collect { case ag: Aggregate => ag }.head // distinct() IS an Aggregate
    val rel = a.collectFirst { case l: LogicalRelation => l }.get
    val gs = a.groupingExpressions.map(g => inlineProjectAliases(stripAlias(g), a))
    val day = gs.find(_.dataType == DateType).get
    val et = gs.find(_.dataType == StringType).get
    val user = gs.find(_.dataType == LongType).get
    val nRows = withoutRewrite { s.read.parquet(mv).count() }
    MvEntry(mv, opt.canonicalized, d, fp, normalizeToSchema(day, rel),
      normalizeToSchema(et, rel), normalizeToSchema(user, rel),
      listDataFiles(canonicalSrc(d)), nRows)
  }

  /** Stage (memoized) the distinct-keys view and register it. */
  def stageDistinctUsers(s: SparkSession, d: String): String = {
    val fp = graft.Tables.datasetFingerprint(canonicalSrc(d))
    val mv = Staged.dir(s, "mv_distinct", canonicalSrc(d)) {
      val dir = graft.Tables.scratchDir("graft_mv_distinct", d)
      withoutRewrite {
        naiveDistinctUsers(s, d).write.mode("overwrite").parquet(dir)
      }
      dir
    }
    distinctRegistry.put(canonicalSrc(d),
      distinctRelEntry(s, mv, d, fp, naiveDistinctUsers(s, d)))
    mv
  }

  /** st27/cat12 — maintain the registered distinct-keys view after an
    * append, APPEND-ONLY: the manifest diff finds exactly the new source
    * files; their distinct tuples anti-join the stored view and only the
    * genuinely NEW tuples are appended — the view store is never
    * rewritten (a distinct set is monotone under appends, unlike cat7's
    * partials which must be merged), so per-batch write cost is the
    * novelty of the batch. Removed/rewritten source files force a full
    * re-stage, same rule as cat7.
    */
  def maintainDistinctUsers(s: SparkSession, d: String): MaintenanceReport = {
    val src = canonicalSrc(d)
    s.catalog.refreshByPath(src)
    val current = listDataFiles(src)
    val fp = graft.Tables.datasetFingerprint(canonicalSrc(d))
    Option(distinctRegistry.get(src)) match {
      case None =>
        stageDistinctUsers(s, d)
        MaintenanceReport(current.size, 0, restaged = true,
          distinctRegistry.get(src).mv)
      case Some(entry) if entry.fingerprint == fp =>
        MaintenanceReport(0, 0, restaged = false, entry.mv)
      case Some(entry) =>
        val added = current.keySet -- entry.manifest.keySet
        val removed = entry.manifest.keySet -- current.keySet
        val changed = (current.keySet & entry.manifest.keySet)
          .filter(f => current(f) != entry.manifest(f))
        if (removed.nonEmpty || changed.nonEmpty || added.isEmpty) {
          stageDistinctUsers(s, d)
          MaintenanceReport(added.size, (removed ++ changed).size,
            restaged = true, distinctRegistry.get(src).mv)
        } else {
          withoutRewrite {
            // raw-file read like cat7: to_date over the raw (NTZ) column
            // yields the same wall date the normalized reader produces
            val novel = s.read
              .parquet(added.toSeq.sorted.map(f => s"$src/$f"): _*)
              .select(to_date(col("ts")).as("day"), col("event_type"),
                col("user_id"))
              .distinct()
              .join(s.read.parquet(entry.mv),
                Seq("day", "event_type", "user_id"), "left_anti")
              // materialize before appending into the dir being read
              .localCheckpoint(true)
            novel.write.mode("append").parquet(entry.mv)
          }
          s.catalog.refreshByPath(entry.mv)
          distinctRegistry.put(src,
            distinctRelEntry(s, entry.mv, d, fp, naiveDistinctUsers(s, d)))
          MaintenanceReport(added.size, 0, restaged = false, entry.mv)
        }
    }
  }

  // ---- cat7: incremental maintenance of the registered view ----

  /** Relative paths of the parquet data files under a table dir, each
    * carrying (size, mtime) — the stage-time manifest appends are
    * detected against (src15's trick: increment = current listing minus
    * known listing, so maintenance reads ONLY the new files, never the
    * table). Size+mtime are carried so an existing file REWRITTEN IN
    * PLACE under the same name is distinguishable from an untouched one:
    * name-set diff alone would classify a rewrite+append batch as pure
    * append and algebraically merge only the new files, silently
    * registering a wrong view as fresh.
    */
  private[plans] def listDataFiles(src: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(src).getAbsoluteFile.toPath
    walk(root.toFile).filter(_.getName.endsWith(".parquet"))
      .map(f => root.relativize(f.getAbsoluteFile.toPath).toString ->
        (f.length(), f.lastModified())).toMap
  }

  final case class MaintenanceReport(
      added: Int, removed: Int, restaged: Boolean, viewDir: String)

  private val maintVersion = new java.util.concurrent.atomic.AtomicInteger(0)

  /** cat7 — maintain the REGISTERED daily view after an append, in
    * delta cost: new data files (manifest diff) are the only thing
    * read; their rollup merges ALGEBRAICALLY into the stored partials
    * (counts and exact cents both re-aggregate by summation — up3's
    * discipline), the merged view lands in a fresh versioned dir, and
    * the registry entry re-keys to the post-append fingerprint. At
    * 100 TB this is the whole point of the rewrite tier: the view
    * costs one increment-sized aggregation per batch instead of the
    * full fact re-stage the fingerprint mismatch would otherwise
    * force. Non-append changes (deleted/rewritten files) fall back to
    * a full re-stage — the algebraic merge can only add partials.
    */
  def maintainDailyRollup(s: SparkSession, d: String): MaintenanceReport = {
    val src = canonicalSrc(d)
    // drop Spark's cached file listing for the mutated store: a file
    // REWRITTEN IN PLACE keeps its name but changes length, and a scan
    // planned from the stale cached FileStatus fails (or truncates) at
    // read time — maintenance is exactly the moment the store changed
    s.catalog.refreshByPath(src)
    val current = listDataFiles(src)
    val fp = graft.Tables.datasetFingerprint(canonicalSrc(d))
    Option(registry.get(src)) match {
      case None =>
        stageDailyRollup(s, d)
        MaintenanceReport(current.size, 0, restaged = true, registry.get(src).mv)
      case Some(entry) if entry.fingerprint == fp =>
        MaintenanceReport(0, 0, restaged = false, entry.mv)
      case Some(entry) =>
        val added = current.keySet -- entry.manifest.keySet
        val removed = entry.manifest.keySet -- current.keySet
        // a surviving file whose (size, mtime) changed was rewritten in
        // place — its old rows are already folded into the stored
        // partials, so only a full re-stage can be correct
        val changed = (current.keySet & entry.manifest.keySet)
          .filter(f => current(f) != entry.manifest(f))
        if (removed.nonEmpty || changed.nonEmpty || added.isEmpty) {
          stageDailyRollup(s, d)
          MaintenanceReport(added.size, (removed ++ changed).size,
            restaged = true, registry.get(src).mv)
        } else {
          val merged = withoutRewrite {
            val delta = s.read.parquet(added.toSeq.sorted.map(f => s"$src/$f"): _*)
              .groupBy(to_date(col("ts")).as("day"), col("event_type"))
              .agg(count(lit(1)).as("n"),
                sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
            s.read.parquet(entry.mv).unionByName(delta)
              .groupBy("day", "event_type")
              .agg(sum("n").as("n"), sum("cents").as("cents"))
          }
          val dir = s"${entry.mv.replaceAll("_m\\d+$", "")}_m${maintVersion.incrementAndGet()}"
          withoutRewrite { merged.write.mode("overwrite").parquet(dir) }
          // Re-derive the WHOLE entry against the post-append store (not
          // entry.copy): the stale template would block exactSwap against
          // the new relation forever, and the stale row count would skew
          // cat8's cheapest-view ordering. The re-derivation stays
          // delta-cost: an optimizedPlan construction, a view-sized
          // count, and a file listing — never a fact scan.
          registry.put(src,
            singleRelEntry(s, dir, d, fp, naiveDailyRollup(s, d)))
          MaintenanceReport(added.size, 0, restaged = false, dir)
        }
    }
  }

  // ---- st29: the registered daily view OVER THE LOG-STRUCTURED STORE,
  // maintained through the change feed ----

  /** The daily-rollup shape over a tt store's snapshot `v` — the same
    * (day, event_type, n, cents) vocabulary as [[naiveDailyRollup]], but
    * rooted at the VERSIONED store via the dir-addressable snapshot
    * relation ([[graft.ops.Mutations.ttHeadRelation]]), so the rewrite
    * tier can key the registry on the store path like any plain table.
    */
  def ttDailyRollup(s: SparkSession, ttDir: String, v: Int): DataFrame =
    graft.ops.Mutations.ttHeadRelation(s, ttDir, v)
      .groupBy(to_date(col("day")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))

  private def ttSrcKey(ttDir: String): String =
    new java.io.File(ttDir).getAbsolutePath

  /** (Re-)register the tt daily view: the WHOLE entry (template, norms,
    * store fingerprint, view stats) re-derives against snapshot `v` —
    * cat7's post-maintenance discipline, so the staleness gate always
    * compares against the current head and a rebuilt store deregisters
    * cleanly.
    */
  private def registerTtDailyRollup(s: SparkSession, ttDir: String, v: Int,
      mv: String): Unit = {
    val opt = withoutRewrite {
      ttDailyRollup(s, ttDir, v).queryExecution.optimizedPlan
    }
    val (dayNorm, etNorm, centsNorm) = deriveSingleRelNorms(opt)
    val nRows = withoutRewrite { s.read.parquet(mv).count() } // view-sized
    val ndv = withoutRewrite {
      s.read.parquet(mv).select("day").distinct().count()
    }
    registry.put(ttSrcKey(ttDir), MvEntry(mv, opt.canonicalized, ttDir,
      graft.Tables.datasetFingerprint(ttDir), dayNorm, etNorm, centsNorm,
      Map.empty, nRows, None, ndv))
  }

  /** Stage + register the tt daily view at snapshot `v` — the stream
    * consumer's bootstrap, the ONLY full-snapshot aggregation it ever
    * runs. Returns the view dir.
    */
  def stageTtDailyRollup(s: SparkSession, ttDir: String, v: Int): String = {
    val dir = graft.Tables.scratchDir("graft_mv_tt", ttDir) + s"_v$v"
    withoutRewrite {
      ttDailyRollup(s, ttDir, v).write.mode("overwrite").parquet(dir)
    }
    registerTtDailyRollup(s, ttDir, v, dir)
    dir
  }

  /** st29 — maintain the REGISTERED tt view across commit `v` through
    * the CHANGE FEED: insert partials add, delete partials subtract
    * (up16's abelian-group algebra over count and exact cents), the
    * merged view lands in a fresh versioned dir, and the entry re-keys
    * to the post-commit fingerprint — cat7's discipline at CDF cost.
    * Only the commit's net-changed files are read, NEVER the store —
    * including for COW updates and DELETES, the moves cat7's plain-dir
    * manifest diff must full-re-stage on (its removed files' bytes are
    * gone; the tt log retains them, and the CDF turns the delete into
    * subtractable partials). Returns the new view dir.
    */
  def maintainTtDailyRollup(s: SparkSession, ttDir: String, v: Int): String = {
    val src = ttSrcKey(ttDir)
    val entry = Option(registry.get(src)).getOrElse(
      sys.error(s"tt view not registered for $ttDir"))
    val merged = withoutRewrite {
      val delta = graft.ops.Mutations.ttChanges(s, ttDir, v - 1, v)
        .groupBy(to_date(col("day")).as("day"), col("event_type"))
        .agg(sum(when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)).as("dn"),
          sum(when(col("_change_type") === "insert", col("cents"))
            .otherwise(-col("cents"))).as("dcents"))
      s.read.parquet(entry.mv)
        .join(delta, Seq("day", "event_type"), "full_outer")
        .select(col("day"), col("event_type"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("cents"), lit(0L)) +
            coalesce(col("dcents"), lit(0L))).as("cents"))
        .filter(col("n") > 0)
    }
    val dir = s"${entry.mv.replaceAll("_m\\d+$", "")}_m${maintVersion.incrementAndGet()}"
    withoutRewrite { merged.write.mode("overwrite").parquet(dir) }
    registerTtDailyRollup(s, ttDir, v, dir)
    dir
  }

  // ---- cat6: aggregate-JOIN view (Goldstein & Larson's join matching) ----

  /** One registered aggregate-join view: the star rollup pre-joins the
    * fact with a dimension and stores (day, event_type, c_mktsegment)
    * partials. Because the view CONTAINS the join's result, a query
    * aggregating the SAME join (structurally proven: same two relations,
    * same equi-condition, only Project/Filter otherwise) with keys
    * derivable from the view's keys and algebraic Count/Sum aggregates
    * is answered by re-aggregating the view — no FK/cardinality
    * assumption needed, exactly Goldstein & Larson 2001's
    * "join-matching + roll-up" tier (Calcite `MaterializedViewRule`'s
    * public form). `keyNorms` are two-relation normalized forms (see
    * `normalizeToRels`), in view-column order.
    */
  private[plans] final case class StarEntry(
      mv: String, datasetDir: String, fingerprint: String,
      factSrc: String, dimSrc: String, joinCondNorm: Expression,
      keyNorms: Seq[(Expression, DataType)], centsNorm: Expression,
      factManifest: Map[String, (Long, Long)] = Map.empty,
      dimManifest: Map[String, (Long, Long)] = Map.empty)

  /** fact canonical path -> registered aggregate-join view */
  private[plans] val starRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, StarEntry]

  private[plans] def canonicalPath(d: String, table: String): String =
    new java.io.File(s"$d/$table.parquet").getAbsolutePath

  /** Two-relation normalization: attributes of relation i bind at
    * ordinal `i*8192 + fieldIndex` in a virtual concatenated schema, so
    * expressions over a (fact, dim) pair compare across plans however
    * each pruned its columns. The relation order is fixed by role (fact
    * first, dim second), never by plan position.
    */
  private[plans] def normalizeToRels(e: Expression, rels: Seq[LogicalRelation]): Expression = {
    val ord = rels.zipWithIndex.flatMap { case (rel, ti) =>
      val schema = rel.relation.schema
      rel.output.collect {
        case a: AttributeReference if schema.fieldNames.contains(a.name) =>
          a.exprId -> (ti * 8192 + schema.fieldIndex(a.name))
      }
    }.toMap
    e.transform {
      case a: AttributeReference if ord.contains(a.exprId) =>
        BoundReference(ord(a.exprId), a.dataType, nullable = true)
    }.canonicalized
  }

  /** The canonical aggregate-join (star) rollup the cat6 tier
    * recognizes: events joined to its user dimension, partials per
    * (day, event_type, market segment). Calendar × |event types| ×
    * |segments| rows — the summary table for every "revenue by
    * customer segment" dashboard cut.
    */
  def naiveStarRollup(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .join(graft.Tables.customer(s, d), col("user_id") === col("c_custkey"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))

  /** Stage (memoized) the star rollup for dataset `d` and register it
    * for join-aware rewrite. Returns the view directory.
    */
  /** Derive a StarEntry for view dir `mv` from the CURRENT dataset
    * state — the normalized join condition, key and cents vocabulary
    * plus the fact/dim file manifests the incremental maintenance
    * (cat10) diffs against.
    */
  private def starEntryFor(s: SparkSession, mv: String, d: String,
      fp: String): StarEntry = {
    val opt = withoutRewrite {
      naiveStarRollup(s, d).queryExecution.optimizedPlan
    }
    val factSrc = canonicalSrc(d)
    val dimSrc = canonicalPath(d, "customer")
    opt.collect { case a: Aggregate => a }.headOption.map { a =>
      val rels = a.collect { case l: LogicalRelation => l }
      def pathOf(l: LogicalRelation): String = l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.headOption
          .map(p => new java.io.File(p.toUri.getPath).getAbsolutePath).getOrElse("")
        case _ => ""
      }
      val fact = rels.find(pathOf(_) == factSrc).get
      val dim = rels.find(pathOf(_) == dimSrc).get
      val ordered = Seq(fact, dim)
      def norm(e: Expression): Expression =
        normalizeToRels(inlineProjectAliases(e, a), ordered)
      val j = a.collect { case jn: Join => jn }.head
      val keyNorms = a.groupingExpressions.map(g =>
        (norm(stripAlias(g)), g.dataType))
      val cents = a.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae.aggregateFunction
      }).collectFirst { case sm: Sum => norm(sm.child) }.get
      StarEntry(mv, d, fp, factSrc, dimSrc, norm(j.condition.get),
        keyNorms, cents, listDataFiles(factSrc), listDataFiles(dimSrc))
    }.get
  }

  def stageStarRollup(s: SparkSession, d: String): String = {
    val fp = graft.Tables.datasetFingerprint(d)
    val mv = Staged.dir(s, "mv_star", d) {
      val dir = graft.Tables.scratchDir("graft_mv_star", d)
      withoutRewrite {
        naiveStarRollup(s, d).write.mode("overwrite").parquet(dir)
      }
      dir
    }
    starRegistry.put(canonicalSrc(d), starEntryFor(s, mv, d, fp))
    mv
  }

  /** cat10 — incremental maintenance of the registered aggregate-JOIN
    * view (cat7's algebra lifted over the join): because the star
    * partials aggregate the fact⋈dim result and that result is the
    * DISJOINT union of (old fact)⋈dim and (delta fact)⋈dim when the
    * dim is unchanged, a pure fact append maintains the view by
    * joining ONLY the new fact files to the dim and merging the
    * delta's partials algebraically — counts and exact cents both
    * re-aggregate by summation. At 100 TB the fact is the table that
    * grows every batch while the dimension is calendar-stable, so
    * this is the maintenance path a star summary actually lives on
    * (Goldstein & Larson's views under the standard incremental-
    * view-maintenance delta rule, Gupta & Mumick 1995). ANY dim
    * change — or a fact delete/in-place rewrite, detected by the
    * (size, mtime) manifests — falls back to the full re-stage: the
    * algebraic merge can only add fact partials under a fixed dim.
    */
  def maintainStarRollup(s: SparkSession, d: String): MaintenanceReport = {
    val factSrc = canonicalSrc(d)
    val dimSrc = canonicalPath(d, "customer")
    s.catalog.refreshByPath(factSrc)
    s.catalog.refreshByPath(dimSrc)
    val curFact = listDataFiles(factSrc)
    val curDim = listDataFiles(dimSrc)
    val fp = graft.Tables.datasetFingerprint(d)
    Option(starRegistry.get(factSrc)) match {
      case None =>
        stageStarRollup(s, d)
        MaintenanceReport(curFact.size, 0, restaged = true,
          starRegistry.get(factSrc).mv)
      case Some(entry) if entry.fingerprint == fp =>
        MaintenanceReport(0, 0, restaged = false, entry.mv)
      case Some(entry) =>
        val added = curFact.keySet -- entry.factManifest.keySet
        val removed = entry.factManifest.keySet -- curFact.keySet
        val changed = (curFact.keySet & entry.factManifest.keySet)
          .filter(f => curFact(f) != entry.factManifest(f))
        val dimChanged = curDim != entry.dimManifest
        if (dimChanged || removed.nonEmpty || changed.nonEmpty || added.isEmpty) {
          stageStarRollup(s, d)
          MaintenanceReport(added.size,
            (removed ++ changed).size + (if (dimChanged) 1 else 0),
            restaged = true, starRegistry.get(factSrc).mv)
        } else {
          val merged = withoutRewrite {
            val delta = s.read
              .parquet(added.toSeq.sorted.map(f => s"$factSrc/$f"): _*)
              .join(graft.Tables.customer(s, d),
                col("user_id") === col("c_custkey"))
              .groupBy(to_date(col("ts")).as("day"), col("event_type"),
                col("c_mktsegment"))
              .agg(count(lit(1)).as("n"),
                sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
            s.read.parquet(entry.mv).unionByName(delta)
              .groupBy("day", "event_type", "c_mktsegment")
              .agg(sum("n").as("n"), sum("cents").as("cents"))
          }
          val dir = s"${entry.mv.replaceAll("_m\\d+$", "")}_m${maintVersion.incrementAndGet()}"
          withoutRewrite { merged.write.mode("overwrite").parquet(dir) }
          // full entry re-derivation, cat7's discipline: normalized
          // vocabulary against the post-append relations, fresh
          // manifests, re-keyed fingerprint — all view-sized work
          starRegistry.put(factSrc, starEntryFor(s, dir, d, fp))
          MaintenanceReport(added.size, 0, restaged = false, dir)
        }
    }
  }
}

/** The rewrite itself: an `Aggregate` whose single source relation is a
  * registered events table AND whose canonicalized form equals the view's
  * defining plan is replaced by a projection over the view scan, output
  * attributes aliased back to the original exprIds so the parent plan is
  * untouched. Runs inside the operator-optimization fixed point, so by
  * the iteration where the subtree has collapsed to its final shape the
  * comparison is against like forms; after the swap no Aggregate remains,
  * so the rule cannot re-fire on its own output.
  */
object MatViewRewriteRule extends Rule[LogicalPlan] {

  private def viewScan(mv: String): LogicalPlan = {
    val s = SparkSession.active
    MatViews.withoutRewrite {
      s.read.parquet(mv).select("day", "event_type", "n", "cents")
        .queryExecution.analyzed
    }
  }

  /** Exact-match substitution (cat3): one row per (day, event_type) by
    * construction, so a plain projection over the view scan IS the
    * aggregate's answer.
    */
  private def exactSwap(agg: Aggregate, entry: MatViews.MvEntry): Option[LogicalPlan] =
    if (agg.canonicalized != entry.template) None
    else {
      val mvPlan = viewScan(entry.mv)
      val out: Seq[NamedExpression] =
        agg.output.zip(mvPlan.output).map { case (orig, fromMv) =>
          Alias(fromMv, orig.name)(exprId = orig.exprId)
        }
      Some(Project(out, mvPlan))
    }

  /** Shared key-derivation apparatus for compensation matchers
    * (rollupSwap/cat4-5 and distinctSwap/cat12): normalization against
    * the query's relation, marker attributes for the view's day/et
    * keys, and the closure test that decides whether an expression is
    * a function of the view keys alone — including the recovery of day
    * predicates from Spark's lowered raw-timestamp midnight bounds.
    */
  private final class KeyDeriver(agg: Aggregate, entry: MatViews.MvEntry,
      rel: LogicalRelation) {
    def norm(e: Expression): Expression =
      MatViews.normalizeToSchema(MatViews.inlineProjectAliases(e, agg), rel)

    val dayMark = AttributeReference("__mv_day", DateType)()
    val etMark = AttributeReference("__mv_et", StringType)()
    // key-closure test: inline child-Project aliases FIRST (a pulled-out
    // `_groupingexpression` attribute has no subtrees to match), then
    // consume every subtree derivable from a view key; anything left
    // referencing a raw column makes the key underivable
    // Spark lowers `to_date(ts) <cmp> <date>` to raw-timestamp bounds
    // (UnwrapCastInBinaryComparison) BEFORE injected rules see the plan,
    // so a day-selective query reaches this matcher as
    //   isnotnull(ts) AND ts >= D 00:00 AND ts < D+1 00:00
    // — no to_date subtree left to match dayNorm. Recover day predicates
    // from that lowered form, the same midnight-aligned-bound recovery a
    // lakehouse planner does to prune date-derived partitions: when the
    // view's day key is a cast-to-date of a raw timestamp column, a
    // MIDNIGHT-aligned >=/< bound on that column selects whole day
    // groups exactly (ts >= midnight(D) ⟺ day >= D; ts < midnight(D) ⟺
    // day < D). Non-midnight bounds cut within a day and stay
    // underivable (conservative).
    // Strip the WHOLE cast chain under the day key: a TIMESTAMP_NTZ
    // source column reaches the defining plan as cast(cast(ts as
    // timestamp) as date) (the reader normalizes ts first), but the
    // lowered query filter compares the RAW column — Spark unwraps
    // through every cast and types the midnight literal in the raw
    // column's own type, so the base-column match must too. The
    // midnight→day mapping is cast-chain-safe in both cases: an NTZ
    // wall-midnight bound selects exactly the NTZ wall date, which is
    // what to_date(cast(ntz as ltz)) returns in the session zone.
    @annotation.tailrec
    def stripCasts(x: Expression): Expression = x match {
      case c: Cast => stripCasts(c.child)
      case other => other
    }
    val tsNorm: Option[Expression] = entry.dayNorm match {
      case c: Cast if c.dataType == DateType => Some(stripCasts(c.child))
      case _ => None
    }
    def isTsBase(x: Expression): Boolean = tsNorm.exists(norm(x) == _)
    lazy val zone = java.time.ZoneId.of(SQLConf.get.sessionLocalTimeZone)
    def midnightDay(l: Literal): Option[Int] = {
      def ofLdt(ldt: java.time.LocalDateTime): Option[Int] =
        if (ldt.toLocalTime == java.time.LocalTime.MIDNIGHT)
          Some(ldt.toLocalDate.toEpochDay.toInt)
        else None
      l match {
        case Literal(m: Long, TimestampType) =>
          ofLdt(java.time.Instant.EPOCH
            .plus(m, java.time.temporal.ChronoUnit.MICROS)
            .atZone(zone).toLocalDateTime)
        case Literal(m: Long, TimestampNTZType) =>
          ofLdt(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(m, 1000000L),
            (Math.floorMod(m, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
        case _ => None
      }
    }
    def derive(e: Expression): Option[Expression] = {
      val inlined = MatViews.inlineProjectAliases(e, agg)
      // A non-deterministic predicate (rand() < 0.5) has no column
      // references, so the closure test below would pass it vacuously —
      // but compensating it onto the view scan samples whole GROUPS
      // instead of raw rows, changing semantics. Deterministic only.
      if (!inlined.deterministic) return None
      val replaced = inlined.transformUp {
        case GreaterThanOrEqual(t, l: Literal)
          if isTsBase(t) && midnightDay(l).isDefined =>
          GreaterThanOrEqual(dayMark, Literal(midnightDay(l).get, DateType))
        case LessThanOrEqual(l: Literal, t)
          if isTsBase(t) && midnightDay(l).isDefined =>
          GreaterThanOrEqual(dayMark, Literal(midnightDay(l).get, DateType))
        case LessThan(t, l: Literal)
          if isTsBase(t) && midnightDay(l).isDefined =>
          LessThan(dayMark, Literal(midnightDay(l).get, DateType))
        case GreaterThan(l: Literal, t)
          if isTsBase(t) && midnightDay(l).isDefined =>
          LessThan(dayMark, Literal(midnightDay(l).get, DateType))
        // to_date preserves nullness, so a raw-ts null guard selects
        // exactly the non-null day groups
        case IsNotNull(t) if isTsBase(t) => IsNotNull(dayMark)
        case sub if norm(sub) == entry.dayNorm => dayMark
        case sub if norm(sub) == entry.etNorm => etMark
      }
      if (replaced.references.forall(a =>
        a.exprId == dayMark.exprId || a.exprId == etMark.exprId)) Some(replaced)
      else None
    }
  }

  /** Roll-up COMPENSATION (cat4 — the Calcite/Oracle "aggregate roll-up"
    * step beyond exact matching): answer a COARSER aggregation from the
    * daily view by re-aggregating its stored partials. Fires when
    *
    *   - every grouping key is an expression over the view's keys — each
    *     key subtree that normalizes to the view's day/event_type
    *     expression is replaced by a marker, and the rewrite is accepted
    *     only if NO raw-column reference survives (grouping keys ⊆
    *     functional closure of view keys, decided structurally); and
    *   - every aggregate is algebraic over the stored partials:
    *     count(<non-null literal>) re-aggregates as sum(n), and a sum
    *     whose child normalizes to the view's exact-cents expression
    *     re-aggregates as sum(cents) — both exact over integers, so the
    *     compensated answer is bit-identical to the raw aggregation; and
    *   - the chain below the aggregate holds only Projects, the
    *     registered relation, and Filters whose every condition is
    *     ITSELF derivable from the view keys (cat5): a predicate over
    *     day/event_type selects whole groups, so filtering the view's
    *     rows is exactly filtering the raw rows — the compensated plan
    *     gets Filter(cond′, viewScan) underneath. A predicate touching
    *     any other column (value, user_id) kills the match.
    *
    * The compensated plan is Aggregate(G′, A′, [Filter(cond′,)] viewScan)
    * with outputs re-aliased to the original exprIds, so the parent plan
    * never knows.
    */
  private def rollupSwap(agg: Aggregate, entry: MatViews.MvEntry): Option[LogicalPlan] = {
    val chainOk = agg.child.collectFirst {
      case n if !n.isInstanceOf[Project] && !n.isInstanceOf[Filter] &&
        !n.isInstanceOf[LogicalRelation] => n
    }.isEmpty
    val relOpt = agg.collectFirst { case l: LogicalRelation => l }
    if (!chainOk || relOpt.isEmpty) return None
    val rel = relOpt.get
    val kd = new KeyDeriver(agg, entry, rel)
    import kd.{norm, dayMark, etMark, derive}
    // cat5: every Filter condition below the aggregate must be a
    // predicate over the view keys (whole-group selection)
    val condsOpt = agg.child.collect { case f: Filter => f.condition }
      .map(derive)
    if (condsOpt.exists(_.isEmpty)) return None

    val groupedOpt = agg.groupingExpressions
      .map(g => derive(MatViews.stripAlias(g)))
    if (groupedOpt.exists(_.isEmpty)) return None
    val grouped = agg.groupingExpressions.map(MatViews.stripAlias)
      .zip(groupedOpt.map(_.get))

    val mvPlan = viewScan(entry.mv)
    val Seq(vDay, vEt, vN, vCents) = mvPlan.output

    // Compensate one output column. Post-CollapseProject, an output is an
    // arbitrary scalar expression over grouping keys and aggregates
    // (`date_format(month)`, `round(sum(cents)/100, 2)`, ...), so the
    // classification is a tree rewrite, not a case split: compensatable
    // AggregateExpressions re-aggregate the stored partials (count →
    // sum(n), exact-cents sum → sum(cents)), derivable key subtrees
    // become view-key markers, and the rewrite is accepted only if no
    // raw-column reference survives. Anything else (count DISTINCT,
    // sum over a non-partial expression, a raw-column scalar) leaves a
    // residual reference or a poisoned node and kills the match.
    val poison = AttributeReference("__mv_poison", LongType)()
    def compensate(ne: NamedExpression): Option[NamedExpression] = {
      val replaced = MatViews.inlineProjectAliases(ne, agg).transformUp {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case c: Count if c.children.forall {
              case l: Literal => l.value != null
              case _ => false
            } =>
              // partial counts always exist per surviving group → the
              // sum is never null; Coalesce keeps count's non-null type
              Coalesce(Seq(
                AggregateExpression(Sum(vN), aggregate.completeMode,
                  isDistinct = false), Literal(0L)))
            case sm: Sum if sm.dataType == LongType &&
              norm(sm.child) == entry.centsNorm =>
              AggregateExpression(Sum(vCents), aggregate.completeMode,
                isDistinct = false)
            case _ => poison
          }
        case sub if norm(sub) == entry.dayNorm => dayMark
        case sub if norm(sub) == entry.etNorm => etMark
      }
      val clean = replaced.references.forall(a =>
        a.exprId == dayMark.exprId || a.exprId == etMark.exprId ||
        a.exprId == vN.exprId || a.exprId == vCents.exprId)
      // key-derived scalars here are sound by construction: analysis
      // already validated every output as a function of the query's own
      // grouping keys and aggregates, so a surviving key subtree can
      // only be (part of) a query grouping expression
      if (!clean) None
      else replaced match {
        case al: Alias => Some(al)
        case other => Some(Alias(other, ne.name)(exprId = ne.exprId))
      }
    }
    val outsOpt = agg.aggregateExpressions.map(compensate)
    if (outsOpt.exists(_.isEmpty)) return None

    def inst(e: Expression): Expression = e.transform {
      case a: Attribute if a.exprId == dayMark.exprId => vDay
      case a: Attribute if a.exprId == etMark.exprId => vEt
    }
    val newGroupings = grouped.map { case (_, derivedG) => inst(derivedG) }
    val newOutputs = outsOpt.map(_.get).map(ne =>
      inst(ne).asInstanceOf[NamedExpression])
    val childPlan =
      if (condsOpt.isEmpty) mvPlan
      else Filter(condsOpt.map(c => inst(c.get)).reduce(And), mvPlan)
    Some(Aggregate(newGroupings, newOutputs, childPlan))
  }

  private object aggregate {
    val completeMode = org.apache.spark.sql.catalyst.expressions.aggregate.Complete
  }

  private def distinctViewScan(mv: String): LogicalPlan = {
    val s = SparkSession.active
    MatViews.withoutRewrite {
      s.read.parquet(mv).select("day", "event_type", "user_id")
        .queryExecution.analyzed
    }
  }

  /** cat12 — COUNT(DISTINCT) rewrite over the distinct-keys view.
    * Distinct counts are not algebraic over the summary views' partials,
    * so cat3–cat9 can never answer them; they ARE exactly re-aggregable
    * over a view that stores the distinct key tuples themselves. Fires
    * when every aggregate output is a plain single-child COUNT(DISTINCT
    * e) with e normalizing to the view's distinct key, and every
    * grouping key / filter condition is derivable from the view's
    * day/et keys (same closure test and lowered-date-bound recovery as
    * cat4/cat5). The rewritten plan runs the SAME distinct aggregation
    * over |distinct tuples| rows instead of the fact table — at 100 TB
    * the difference between shuffling the corpus and the key space.
    */
  private def distinctSwap(agg: Aggregate, entry: MatViews.MvEntry): Option[LogicalPlan] = {
    val chainOk = agg.child.collectFirst {
      case n if !n.isInstanceOf[Project] && !n.isInstanceOf[Filter] &&
        !n.isInstanceOf[LogicalRelation] => n
    }.isEmpty
    val relOpt = agg.collectFirst { case l: LogicalRelation => l }
    if (!chainOk || relOpt.isEmpty) return None
    val rel = relOpt.get
    val kd = new KeyDeriver(agg, entry, rel)
    import kd.{norm, dayMark, etMark, derive}
    val condsOpt = agg.child.collect { case f: Filter => f.condition }.map(derive)
    if (condsOpt.exists(_.isEmpty)) return None
    val groupedOpt = agg.groupingExpressions
      .map(g => derive(MatViews.stripAlias(g)))
    if (groupedOpt.exists(_.isEmpty)) return None
    val mvPlan = distinctViewScan(entry.mv)
    val Seq(vDay, vEt, vUser) = mvPlan.output
    val poison = AttributeReference("__mv_poison", LongType)()
    def compensate(ne: NamedExpression): Option[NamedExpression] = {
      val replaced = MatViews.inlineProjectAliases(ne, agg).transformUp {
        case ae: AggregateExpression if ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case c: Count if c.children.size == 1 &&
              norm(c.children.head) == entry.centsNorm =>
              AggregateExpression(Count(Seq(vUser)), aggregate.completeMode,
                isDistinct = true)
            case _ => poison
          }
        // any other aggregate needs multiplicity the deduped view dropped
        case ae: AggregateExpression => poison
        case sub if norm(sub) == entry.dayNorm => dayMark
        case sub if norm(sub) == entry.etNorm => etMark
      }
      val clean = replaced.references.forall(a =>
        a.exprId == dayMark.exprId || a.exprId == etMark.exprId ||
          a.exprId == vUser.exprId)
      if (!clean) None
      else replaced match {
        case al: Alias => Some(al)
        case other => Some(Alias(other, ne.name)(exprId = ne.exprId))
      }
    }
    val outsOpt = agg.aggregateExpressions.map(compensate)
    if (outsOpt.exists(_.isEmpty)) return None
    def inst(e: Expression): Expression = e.transform {
      case a: Attribute if a.exprId == dayMark.exprId => vDay
      case a: Attribute if a.exprId == etMark.exprId => vEt
    }
    val newGroupings = groupedOpt.map(g => inst(g.get))
    val newOutputs = outsOpt.map(_.get).map(ne =>
      inst(ne).asInstanceOf[NamedExpression])
    val childPlan =
      if (condsOpt.isEmpty) mvPlan
      else Filter(condsOpt.map(c => inst(c.get)).reduce(And), mvPlan)
    Some(Aggregate(newGroupings, newOutputs, childPlan))
  }

  private def starViewScan(mv: String): LogicalPlan = {
    val s = SparkSession.active
    MatViews.withoutRewrite {
      s.read.parquet(mv)
        .select("day", "event_type", "c_mktsegment", "n", "cents")
        .queryExecution.analyzed
    }
  }

  private def relPathOf(l: LogicalRelation): String = l.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.headOption
      .map(p => new java.io.File(p.toUri.getPath).getAbsolutePath).getOrElse("")
    case _ => ""
  }

  /** cat6 — aggregate-over-JOIN answered from the registered
    * aggregate-join view (Goldstein & Larson's join matching on top of
    * cat4/cat5's compensation machinery). Fires when the subtree below
    * the Aggregate is exactly ONE Inner Join of the registered fact and
    * dimension relations (plus Project/Filter chains), the join
    * condition normalizes to the view's defining condition, every
    * Filter condition and grouping key is derivable from the view's
    * keys, and every aggregate is algebraic over the stored partials.
    * Because the view stores the join's own aggregated result, matching
    * the join STRUCTURALLY is sufficient — no key/FK cardinality
    * assumption is involved.
    */
  private def starSwap(agg: Aggregate, entry: MatViews.StarEntry): Option[LogicalPlan] = {
    val chainOk = agg.child.collectFirst {
      case n if !n.isInstanceOf[Project] && !n.isInstanceOf[Filter] &&
        !n.isInstanceOf[Join] && !n.isInstanceOf[LogicalRelation] => n
    }.isEmpty
    if (!chainOk) return None
    val joins = agg.collect { case j: Join => j }
    val rels = agg.collect { case l: LogicalRelation => l }
    if (joins.size != 1 || rels.size != 2) return None
    val j = joins.head
    if (j.joinType != Inner || j.condition.isEmpty) return None
    val factOpt = rels.find(relPathOf(_) == entry.factSrc)
    val dimOpt = rels.find(relPathOf(_) == entry.dimSrc)
    if (factOpt.isEmpty || dimOpt.isEmpty) return None
    val ordered = Seq(factOpt.get, dimOpt.get)
    def norm(e: Expression): Expression =
      MatViews.normalizeToRels(MatViews.inlineProjectAliases(e, agg), ordered)
    if (norm(j.condition.get) != entry.joinCondNorm) return None

    val marks = entry.keyNorms.zipWithIndex.map { case ((kn, dt), i) =>
      kn -> AttributeReference(s"__mv_k$i", dt)()
    }
    val markIds = marks.map(_._2.exprId).toSet
    def derive(e: Expression): Option[Expression] = {
      val inlined = MatViews.inlineProjectAliases(e, agg)
      if (!inlined.deterministic) return None
      val replaced = inlined.transformUp {
        case sub if marks.exists(_._1 == norm(sub)) =>
          marks.find(_._1 == norm(sub)).get._2
      }
      if (replaced.references.forall(a => markIds.contains(a.exprId)))
        Some(replaced)
      else None
    }

    // every Filter below the aggregate — in either join leg or above the
    // join — must be a whole-group (key-derivable) selection. Exception:
    // `IsNotNull(<join key>)` conjuncts, which the optimizer infers FROM
    // the join condition (InferFiltersFromConstraints) and which the
    // inner equi-join subsumes — the view's rows already satisfy them.
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val joinKeyNorms: Set[Expression] =
      conjuncts(j.condition.get).flatMap {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r) =>
          Seq(norm(l), norm(r))
        case _ => Seq.empty
      }.toSet
    val condsOpt = agg.child.collect { case f: Filter => f.condition }
      .flatMap(conjuncts)
      .filterNot {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(c) =>
          joinKeyNorms.contains(norm(c))
        case _ => false
      }
      .map(derive)
    if (condsOpt.exists(_.isEmpty)) return None
    val groupedOpt = agg.groupingExpressions
      .map(g => derive(MatViews.stripAlias(g)))
    if (groupedOpt.exists(_.isEmpty)) return None

    val mvPlan = starViewScan(entry.mv)
    val Seq(vDay, vEt, vSeg, vN, vCents) = mvPlan.output
    val keyAtts = Seq(vDay, vEt, vSeg)

    val poison = AttributeReference("__mv_poison", LongType)()
    def compensate(ne: NamedExpression): Option[NamedExpression] = {
      val inlined = MatViews.inlineProjectAliases(ne, agg)
      if (!inlined.deterministic) return None
      val replaced = inlined.transformUp {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case c: Count if c.children.forall {
              case l: Literal => l.value != null
              case _ => false
            } =>
              Coalesce(Seq(
                AggregateExpression(Sum(vN), aggregate.completeMode,
                  isDistinct = false), Literal(0L)))
            case sm: Sum if sm.dataType == LongType &&
              norm(sm.child) == entry.centsNorm =>
              AggregateExpression(Sum(vCents), aggregate.completeMode,
                isDistinct = false)
            case _ => poison
          }
        case sub if marks.exists(_._1 == norm(sub)) =>
          marks.find(_._1 == norm(sub)).get._2
      }
      val clean = replaced.references.forall(a =>
        markIds.contains(a.exprId) ||
        a.exprId == vN.exprId || a.exprId == vCents.exprId)
      if (!clean) None
      else replaced match {
        case al: Alias => Some(al)
        case other => Some(Alias(other, ne.name)(exprId = ne.exprId))
      }
    }
    val outsOpt = agg.aggregateExpressions.map(compensate)
    if (outsOpt.exists(_.isEmpty)) return None

    def inst(e: Expression): Expression = e.transform {
      case a: Attribute if markIds.contains(a.exprId) =>
        keyAtts(marks.indexWhere(_._2.exprId == a.exprId))
    }
    val newGroupings = groupedOpt.map(g => inst(g.get))
    val newOutputs = outsOpt.map(_.get).map(ne =>
      inst(ne).asInstanceOf[NamedExpression])
    val childPlan =
      if (condsOpt.isEmpty) mvPlan
      else Filter(condsOpt.map(c => inst(c.get)).reduce(And), mvPlan)
    Some(Aggregate(newGroupings, newOutputs, childPlan))
  }

  /** starSwap's registry/staleness wrapper: the fact path keys the
    * star registry; the fingerprint gate is cat3's discipline.
    */
  private def starPath(agg: Aggregate, rels: Seq[LogicalRelation],
      paths: Seq[String]): Option[LogicalPlan] = {
    if (MatViews.starRegistry.isEmpty || rels.size != 2) return None
    for {
      entry <- paths.flatMap(p =>
        Option(MatViews.starRegistry.get(p))).headOption
      // BOTH relations must be the view's own pair before paying the
      // fingerprint file-walk — an events self-join or events ⋈ other
      // aggregate exits here for free
      if paths.contains(entry.factSrc) && paths.contains(entry.dimSrc)
      if {
        val fresh = graft.Tables.datasetFingerprint(entry.datasetDir) == entry.fingerprint
        if (!fresh) MatViews.starRegistry.remove(entry.factSrc, entry)
        fresh
      }
      next <- starSwap(agg, entry)
    } yield next
  }

  /** Cheap candidacy gate, run before ANY expensive matching: every
    * aggregate function must be a plain (non-distinct, unfiltered)
    * Count or Sum — the only shapes either tier can compensate. Plans
    * like dq10's percentile aggregates over the same events table
    * otherwise pay the full normalize-every-subtree matcher on every
    * optimizer iteration just to fail (measured ~1.4 s on one query).
    */
  private def cheapCandidate(agg: Aggregate): Boolean =
    agg.aggregateExpressions.forall(_.collect {
      case ae: AggregateExpression => ae
    }.forall(ae => ae.filter.isEmpty &&
      (ae.aggregateFunction match {
        // distinct Counts pass the gate too — cat12's matcher decides
        // whether the distinct-keys view can answer them
        case _: Count | _: Sum => true
        case _ => false
      })))

  /** cat8 — COST-ORDERED candidate choice: every registered view over
    * the aggregate's source (the daily view and any coarser one) is a
    * candidate; candidates are tried in ascending stored-row-count
    * order, so the CHEAPEST view that structurally matches answers. A
    * monthly query matches both the monthly view (directly) and the
    * daily view (via cat4's roll-up compensation, month = trunc(day));
    * the chooser reads the month-count-sized table, not the
    * calendar-sized one — the view-selection step every
    * multi-summary-table warehouse (Calcite, Oracle) runs after
    * matching. A day-level query is underivable from the monthly key
    * and still answers from the daily view (spec-pinned).
    */
  /** cat9 — STATS-DRIVEN scan-cost estimate for a successfully
    * rewritten candidate: the stored row count, cut by partition
    * pruning when the compensated filter bounds the view's PARTITION
    * column. Selectivity comes from the registration-time ANALYZE stat
    * (the day key's NDV): a bounded day range [lo, hi) over a
    * day-partitioned view reads ~rows × span / NDV, while the same
    * predicate over an unpartitioned view still SCANS every stored row
    * — the filter cuts output, not input, and at 100 TB the read IS
    * the cost. Row-count ordering alone (cat8) cannot see this: the
    * partitioned and unpartitioned daily views tie exactly on rows.
    * One-sided or absent bounds fall back to the full row count
    * (conservative — never overstates the pruning).
    */
  private def estScanCost(entry: MatViews.MvEntry, rewritten: LogicalPlan): Long = {
    if (entry.partitionCol.isEmpty || entry.keyNdv <= 0L) return entry.rows
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    val conds = rewritten.collect { case f: Filter => conjuncts(f.condition) }.flatten
    def isPartCol(x: Expression): Boolean = x match {
      case a: AttributeReference =>
        entry.partitionCol.contains(a.name) && a.dataType == DateType
      case _ => false
    }
    var lo = Option.empty[Int]
    var hi = Option.empty[Int] // [lo, hi) in epoch days
    conds.foreach {
      case EqualTo(a, Literal(v: Int, DateType)) if isPartCol(a) =>
        lo = Some(lo.fold(v)(math.max(_, v)))
        hi = Some(hi.fold(v + 1)(math.min(_, v + 1)))
      case GreaterThanOrEqual(a, Literal(v: Int, DateType)) if isPartCol(a) =>
        lo = Some(lo.fold(v)(math.max(_, v)))
      case LessThan(a, Literal(v: Int, DateType)) if isPartCol(a) =>
        hi = Some(hi.fold(v)(math.min(_, v)))
      case _ =>
    }
    (lo, hi) match {
      case (Some(l), Some(h)) =>
        val span = math.max(h - l, 0).toLong
        math.max(entry.rows * span / entry.keyNdv, 1L)
      case _ => entry.rows
    }
  }

  /** NEGATIVE-MATCH cache: an Aggregate proven non-rewritable is
    * recorded by (registry-content stamp, canonicalized-plan hash) and
    * skipped thereafter. The optimizer re-runs this rule on every
    * fixpoint iteration and the same dashboards re-issue identical
    * plans, so a non-matching aggregate otherwise re-pays the FULL
    * derivation machinery (per-subtree normalize+canonicalize) each
    * time — measured as the r12 e-family bench inflation. The stamp is
    * the identity of every registered entry, so any registration,
    * maintenance re-registration, or staleness eviction invalidates
    * the cache implicitly; a (2⁻³²) hash collision can only SKIP a
    * legitimate rewrite — plans stay correct, the summary optimization
    * is merely missed.
    */
  private val negCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registryStamp: Int = {
    var h = 17
    Seq(MatViews.registry, MatViews.coarseRegistry, MatViews.partRegistry,
      MatViews.distinctRegistry).foreach { r =>
      val it = r.values().iterator()
      while (it.hasNext) h = h * 31 + System.identityHashCode(it.next())
    }
    val st = MatViews.starRegistry.values().iterator()
    while (st.hasNext) h = h * 31 + System.identityHashCode(st.next())
    h
  }

  /** Is this relation's path a key in ANY registry? */
  private def isRegisteredPath(p: String): Boolean =
    MatViews.registry.containsKey(p) || MatViews.coarseRegistry.containsKey(p) ||
      MatViews.starRegistry.containsKey(p) || MatViews.partRegistry.containsKey(p) ||
      MatViews.distinctRegistry.containsKey(p)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MatViews.bypassed ||
      (MatViews.registry.isEmpty && MatViews.coarseRegistry.isEmpty &&
        MatViews.starRegistry.isEmpty && MatViews.partRegistry.isEmpty &&
        MatViews.distinctRegistry.isEmpty)) return plan
    // Registry-key bail-out: ONE whole-plan walk. Unless some relation
    // under the plan is a registered key, no Aggregate can match — so a
    // large unregistered plan (dozens of Aggregates over big subtrees)
    // pays O(plan) here instead of O(Aggregates × subtree) collects per
    // optimizer iteration (measured ~20-25% optimizer tax on p14-sized
    // plans once any view was registered — r11 verdict item 2).
    val touchesRegistered = plan.exists {
      case l: LogicalRelation => isRegisteredPath(relPathOf(l))
      case _ => false
    }
    if (!touchesRegistered) return plan
    // ONE staleness fingerprint per dataset dir per rule invocation: the
    // stat walk is O(files) and every candidate for the same source
    // shares it — per-candidate walks were the dominant matcher tax on
    // query-dense plans once five registries were populated (the r11
    // item-2 lesson, re-learned one registry-count up in r12's bench).
    val fpCache = scala.collection.mutable.Map.empty[String, String]
    def fpOf(dir: String): String =
      fpCache.getOrElseUpdate(dir, graft.Tables.datasetFingerprint(dir))
    val stamp = registryStamp
    if (negCache.size() > 100000) negCache.clear() // runaway-plan backstop
    plan.transform {
      case agg: Aggregate if cheapCandidate(agg) &&
          !negCache.contains(s"$stamp:${agg.canonicalized.hashCode}") =>
        // one relation collect per Aggregate, shared by the
        // single-relation (cat3/cat4/cat5/cat8) and star (cat6) tiers
        val rels = agg.collect { case l: LogicalRelation => l }
        val paths = rels.map(relPathOf)
        // distinct-ness splits the candidate space up front: a distinct
        // aggregate can never compensate from (n, cents) partials and a
        // plain one can never answer from the deduped view, so each
        // query class pays exactly its own matcher
        lazy val hasDistinct = agg.aggregateExpressions.exists(_.collect {
          case ae: AggregateExpression if ae.isDistinct => ae
        }.nonEmpty)
        val single =
          if (rels.size != 1) None
          else if (hasDistinct) {
            val src = paths.head
            // cat12 — distinct counts from the distinct-keys view
            Option(MatViews.distinctRegistry.get(src)).flatMap { entry =>
              if (fpOf(src) != entry.fingerprint) {
                MatViews.distinctRegistry.remove(src, entry); None
              } else distinctSwap(agg, entry)
            }
          } else {
            val src = paths.head
            val candidates =
              (Option(MatViews.registry.get(src)).map(_ -> MatViews.registry).toSeq ++
                Option(MatViews.coarseRegistry.get(src)).map(_ -> MatViews.coarseRegistry).toSeq ++
                Option(MatViews.partRegistry.get(src)).map(_ -> MatViews.partRegistry).toSeq)
              // Staleness gate: the dataset may have been regenerated in
              // place since staging; on mismatch deregister so the stale
              // view can never answer (the next stage call re-registers).
              .filter { case (entry, reg) =>
                val fresh = fpOf(src) == entry.fingerprint
                if (!fresh) reg.remove(src, entry)
                fresh
              }
            // cat8+cat9 — pick the candidate whose REWRITTEN plan is
            // estimated cheapest to SCAN (stats-driven: partition-pruned
            // post-filter size when the layout realizes it, stored rows
            // otherwise). Cost differs between successful candidates ONLY
            // when the chain carries a Filter (estScanCost is rows
            // otherwise) — so the common filter-less aggregate keeps the
            // LAZY first-match-in-rows-order walk and pays one swap
            // attempt, not three.
            val hasFilter = agg.child.collectFirst { case f: Filter => f }.nonEmpty
            if (!hasFilter) {
              candidates.sortBy { case (e, _) => (e.rows, e.mv) }
                .view.flatMap { case (entry, _) =>
                  exactSwap(agg, entry).orElse(rollupSwap(agg, entry))
                }.headOption
            } else {
              candidates.flatMap { case (entry, _) =>
                exactSwap(agg, entry).orElse(rollupSwap(agg, entry))
                  .map(p => (entry, p))
              }.minByOption { case (entry, p) =>
                (estScanCost(entry, p), entry.rows, entry.mv)
              }.map(_._2)
            }
          }
        single.orElse(starPath(agg, rels, paths)).getOrElse {
          negCache.add(s"$stamp:${agg.canonicalized.hashCode}")
          agg
        }
    }
  }
}
