package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, Tables}

/** SQL front-end: registers every test table as a temp view, so a user
  * can type `spark.sql("SELECT ... FROM lineitem")` against the same
  * data every DataFrame operator reads — one catalog, both APIs.
  *
  * Views are zero-cost until queried (a temp view is a named logical
  * plan, not a materialization), and queries through them get the same
  * Catalyst treatment as the DataFrame form — pushdown, pruning, AQE —
  * because they ARE the same plan. `events` goes through
  * [[Tables.events]] so the nanosecond-timestamp normalization is part
  * of the view, not something each SQL user must re-discover.
  *
  * On a cluster the same surface would be a persistent catalog
  * (`saveAsTable` / external metastore); temp views are the
  * session-scoped equivalent with identical query semantics.
  */
object GraftCatalog {

  /** Register all of [[Tables.names]] as temp views over `sfDir`. */
  def register(s: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { n =>
      val df = n match {
        case "events" => Tables.events(s, sfDir)
        case other    => Tables.table(s, sfDir, other)
      }
      df.createOrReplaceTempView(n)
    }

  /** Persistent-catalog table name for `table` over `sfDir` — qualified by
    * the dataset tag so two SFs never collide in one metastore.
    */
  def persistentName(sfDir: String, table: String): String =
    s"graft_${Tables.scratchTag(sfDir)}_$table".toLowerCase

  /** The cluster shape of [[register]]: `saveAsTable` into the metastore,
    * so the table DEFINITION (schema + file locations + stats) outlives
    * the session that created it — any later SparkSession on the same
    * warehouse sees it by name, which is what lets a fleet of jobs share
    * one catalog instead of each re-declaring paths. Data is written once
    * (managed parquet); re-registration drops and rewrites for a
    * deterministic state. Returns the persistent names.
    */
  def registerPersistent(s: SparkSession, sfDir: String,
      tables: Seq[String]): Map[String, String] =
    tables.map { n =>
      val tbl = persistentName(sfDir, n)
      s.sql(s"DROP TABLE IF EXISTS $tbl") // managed: drops data too
      // a PREVIOUS JVM's managed location survives the (in-memory)
      // catalog that knew about it; CREATE validates the location and
      // would refuse — remove the orphan so re-registration is
      // idempotent across restarts, not just across sessions
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      Tables.table(s, sfDir, n).write.saveAsTable(tbl)
      n -> tbl
    }.toMap

  /** Declared query over the PERSISTENT catalog: verbatim SQL against
    * saveAsTable-backed tables (not temp views). The SQL itself is the
    * user surface; the oracle recomputes it over the raw parquet, so a
    * hash-match proves metastore round-tripping loses nothing.
    */
  def persistentCatalogSql(s: SparkSession, d: String): DataFrame = {
    val t = registerPersistent(s, d, Seq("supplier", "nation", "region"))
    s.sql(
      s"""SELECT r_name, count(*) AS n_suppliers,
         |  round(sum(s_acctbal), 2) AS total_bal
         |FROM ${t("supplier")}
         |JOIN ${t("nation")} ON s_nationkey = n_nationkey
         |JOIN ${t("region")} ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  /** cat2 — table + column statistics feeding the cost-based optimizer:
    * `ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]` on the
    * persistent tables, then a selectively-FILTERED join evaluated with
    * CBO on. Without column stats Catalyst sizes a filtered relation at
    * the full table (it cannot judge selectivity), so a genuinely tiny
    * post-filter side still plans as a shuffle join; with min/max/ndv
    * stats the estimate collapses and the side broadcasts on its own —
    * no hint. That stats-driven flip is pinned in GraftCatalogSpec; the
    * declared result is the join itself, oracled against raw parquet.
    * At 100 TB, ANALYZE is a scheduled metadata job and every ad-hoc
    * query inherits the planning win.
    */
  def analyzedCboJoin(s: SparkSession, d: String): DataFrame = {
    val t = registerPersistent(s, d, Seq("orders", "customer"))
    s.sql(s"ANALYZE TABLE ${t("orders")} COMPUTE STATISTICS")
    s.sql(s"ANALYZE TABLE ${t("orders")} COMPUTE STATISTICS FOR COLUMNS o_totalprice")
    s.sql(s"ANALYZE TABLE ${t("customer")} COMPUTE STATISTICS")
    Sessions.withConf(s)("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
      s.sql(
        s"""SELECT c_mktsegment, count(*) AS n,
           |  round(sum(o_totalprice), 2) AS top_revenue
           |FROM ${t("orders")} JOIN ${t("customer")} ON o_custkey = c_custkey
           |WHERE o_totalprice > 499000
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        .localCheckpoint() // materialize under CBO before confs restore
    }
  }

  /** cat3 — materialized-view rewrite: stage + register the daily events
    * rollup, then run the NAIVE aggregation over raw events — the
    * optimizer substitutes the calendar-sized view for the fact scan
    * (exact plan matching, `graft.plans.MatViewRewriteRule`). The
    * declared result is fully oracled against DuckDB over the RAW
    * events table, proving the substitution answers with the truth.
    */
  def mvRewriteRollup(s: SparkSession, d: String): DataFrame = {
    graft.plans.MatViews.stageDailyRollup(s, d)
    graft.plans.MatViews.naiveDailyRollup(s, d)
      .orderBy("day", "event_type")
  }

  /** cat4 — MV roll-up COMPENSATION: a MONTHLY/event_type aggregation
    * over raw events, answered from the DAILY view by re-aggregating
    * its stored partials (count → sum(n), cents-sum → sum(cents)) —
    * `MatViewRewriteRule`'s subsumption matcher, the Calcite/Oracle
    * step beyond cat3's exact matching. Exact integer partials make the
    * compensated answer bit-identical to the raw aggregation; the
    * oracle reads raw events while the Spark plan reads only the view
    * (spec-pinned, as is a non-rewritable query staying untouched).
    */
  def mvRollupCompensation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.MatViews.stageDailyRollup(s, d)
    graft.Tables.events(s, d)
      .groupBy(trunc(to_date(col("ts")), "mon").as("month"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .select(date_format(col("month"), "yyyy-MM-dd").as("month"),
        col("event_type"), col("n"),
        round(col("cents").cast("double") / 100, 2).as("revenue"))
      .orderBy("month", "event_type")
  }

  /** cat5 — MV rewrite under a DERIVABLE FILTER: a clicks-only daily
    * rollup over raw events, answered from the view with the predicate
    * compensated onto the view scan (a predicate over the view's keys
    * selects whole groups, so Filter(view) ≡ Filter(raw) exactly). The
    * oracle reads raw events; the Spark plan reads only the view —
    * spec-pinned, along with a value-predicate query staying on the
    * fact table (derivability is the gate, not filter presence).
    */
  def mvFilterCompensation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.MatViews.stageDailyRollup(s, d)
    graft.Tables.events(s, d)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .orderBy("day")
  }

  /** cat6 — JOIN-AWARE MV rewrite (Goldstein & Larson 2001; Calcite's
    * `MaterializedViewRule`): the most common real dashboard query — an
    * aggregate over the fact ⋈ dimension star join, here revenue by
    * customer segment — answered from a registered AGGREGATE-JOIN view
    * instead of re-running the join. The rule proves the query's join
    * is structurally the view's own (same two relations, same
    * equi-condition, Project/Filter otherwise), then reuses cat4's
    * roll-up compensation: segment-only keys re-aggregate the stored
    * (day, event_type, segment) exact-integer partials. At 100 TB the
    * fact-side shuffle AND the dimension join both disappear — the plan
    * reads a calendar × |types| × |segments|-sized view. The oracle
    * replays the raw join in DuckDB; the Spark plan reads only the
    * view (spec-pinned, with a different-condition join left alone).
    */
  def mvJoinRewrite(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.MatViews.stageStarRollup(s, d)
    graft.Tables.events(s, d)
      .join(graft.Tables.customer(s, d), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .select(col("c_mktsegment"), col("n"),
        round(col("cents").cast("double") / 100, 2).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** cat7 — INCREMENTAL maintenance of the registered MV: a managed
    * copy of the events table is staged and registered (cat3's flow),
    * then an append batch lands as NEW parquet files (p16's increment
    * discipline), and `MatViews.maintainDailyRollup` folds ONLY those
    * files into the stored partials (manifest diff — src15's trick;
    * algebraic merge — up3's discipline: counts and exact cents both
    * re-aggregate by summation), refreshing the registered fingerprint.
    * The declared daily rollup over the post-append store is then
    * answered BY THE MAINTAINED VIEW (plan reads neither the store nor
    * a rebuilt view — spec-pinned, along with maintained ≡ full
    * recompute and the delta-only read). Base ∪ increment is exactly
    * the raw events table, so the DuckDB oracle recomputes the rollup
    * from raw events — agreement proves the merged partials are the
    * truth. At 100 TB this closes the gap the rewrite tier opened:
    * view freshness at increment cost, not fact-rebuild cost.
    */
  def mvIncrementalMaintenance(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val store = graft.Tables.scratchDir("graft_cat7_store", d)
    val ev = graft.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter(pmod(col("event_id"), lit(10)) =!= 7)
      .write.mode("overwrite").parquet(s"$store/events.parquet")
    graft.plans.MatViews.stageDailyRollup(s, store)
    ev.filter(pmod(col("event_id"), lit(10)) === 7)
      .write.mode("append").parquet(s"$store/events.parquet")
    graft.plans.MatViews.maintainDailyRollup(s, store)
    graft.plans.MatViews.naiveDailyRollup(s, store)
      .orderBy("day", "event_type")
  }

  /** cat10 — incremental maintenance of the aggregate-JOIN view:
    * cat7's append-then-algebraic-merge flow lifted over the star
    * (fact⋈dim) view. A managed copy of events + customer is staged
    * and the star rollup registered (cat6's flow); an append batch
    * lands as new FACT files; `MatViews.maintainStarRollup` joins ONLY
    * those files to the (unchanged) dimension and folds the delta's
    * partials into the stored view — the standard incremental-view-
    * maintenance delta rule for join views (Gupta & Mumick 1995). The
    * declared star rollup over the post-append store then answers from
    * the MAINTAINED view (cat6's rewrite, spec-pinned) while the
    * oracle recomputes from the raw joined tables — a wrong merge
    * breaks the hash. A dim change or fact rewrite forces the full
    * re-stage (spec-pinned).
    */
  def mvStarIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val store = graft.Tables.scratchDir("graft_cat10_store", d)
    val ev = graft.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter(pmod(col("event_id"), lit(10)) =!= 4)
      .write.mode("overwrite").parquet(s"$store/events.parquet")
    graft.Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$store/customer.parquet")
    graft.plans.MatViews.stageStarRollup(s, store)
    ev.filter(pmod(col("event_id"), lit(10)) === 4)
      .write.mode("append").parquet(s"$store/events.parquet")
    graft.plans.MatViews.maintainStarRollup(s, store)
    graft.plans.MatViews.naiveStarRollup(s, store)
      .orderBy("day", "event_type", "c_mktsegment")
  }

  /** cat12 — COUNT(DISTINCT) answered from the DISTINCT-KEYS view: the
    * daily-active-users query (`count(DISTINCT user_id) GROUP BY day`)
    * is the canonical aggregation NO summary view can serve — distinct
    * is not algebraic over (count, sum) partials — so warehouses
    * maintain the distinct key tuples themselves as a view and rewrite
    * distinct counts onto it (any projection of a distinct set stays
    * distinct-countable, exactly). At 100 TB the fact-table distinct
    * shuffles the corpus; the view-backed one shuffles |distinct
    * (day, type, user)| rows. A day-selective variant composes with
    * cat5/cat9's derivable-filter compensation. The oracle recomputes
    * the distinct count from raw events; the plan-reads-only-the-view
    * and non-derivable-aggregates-stay-raw are spec-pinned.
    */
  def mvDistinctRewrite(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.MatViews.stageDistinctUsers(s, d)
    graft.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .orderBy("day")
  }

  /** cat9 — STATS-DRIVEN VIEW CHOICE: two registered views have the
    * SAME defining query and the SAME row count — the daily rollup
    * stored flat and stored day-PARTITIONED — so cat8's row-count
    * ordering literally cannot rank them. For a day-selective query
    * (`WHERE to_date(ts) = D GROUP BY event_type`) the chooser instead
    * ranks by estimated SCAN cost: the registration-time ANALYZE stat
    * (day NDV over the view) gives the post-filter size rows/NDV, and
    * the view's physical layout decides whether that estimate is
    * realizable as read reduction — the partitioned store answers from
    * ONE day directory, the flat store must be scanned whole. At 100 TB
    * this is the difference between reading a few KB and the whole
    * summary table; it is also why warehouses feed column stats, not
    * just table sizes, into view selection. Two engine pieces make the
    * match fire at all: Spark lowers `to_date(ts) = D` to raw-ts
    * midnight bounds before injected rules run, so the matcher recovers
    * day predicates from the lowered form (the same recovery lakehouse
    * planners do for date-derived partition pruning), and the chooser
    * estimates cost from the COMPENSATED plan it is about to emit. The
    * oracle reads raw events; the partitioned-view choice + one-day
    * file pruning are spec-pinned.
    */
  def mvStatsChoice(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.MatViews.stageDailyRollup(s, d)
    graft.plans.MatViews.stagePartitionedDailyRollup(s, d)
    // deterministic probe day: 3 days past the dataset's first event day
    val d0 = graft.Tables.events(s, d)
      .agg(date_add(min(to_date(col("ts"))), 3).as("d")).head.getDate(0)
    graft.Tables.events(s, d)
      .filter(to_date(col("ts")) === lit(d0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .select(col("event_type"), col("n"),
        round(col("cents").cast("double") / 100, 2).as("revenue"))
      .orderBy("event_type")
  }

  /** cat8 — CHEAPEST-VIEW CHOICE: with BOTH the daily and the monthly
    * rollup views registered over the same events table, a per-month
    * aggregation matches both (the monthly view directly; the daily via
    * cat4's roll-up compensation) and the rule answers from the one
    * with fewer stored rows — months × types instead of days × types.
    * This is the view-selection step every multi-summary-table
    * warehouse runs after matching (Calcite's rule set, Oracle's query
    * rewrite): at 100 TB a dashboard's month-level cut should read the
    * month-count-sized table even when a finer view also qualifies.
    * Exact integer partials make either answer bit-identical, so the
    * choice is pure cost — the oracle reads raw events; the plan-reads-
    * only-the-monthly-view choice is spec-pinned (as is a day-level
    * query, underivable from the monthly key, still answering from the
    * daily view).
    */
  def mvCheapestView(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.MatViews.stageDailyRollup(s, d)
    graft.plans.MatViews.stageMonthlyRollup(s, d)
    graft.Tables.events(s, d)
      .groupBy(trunc(to_date(col("ts")), "mon").as("month"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .select(date_format(col("month"), "yyyy-MM-dd").as("month"),
        col("n"), round(col("cents").cast("double") / 100, 2).as("revenue"))
      .orderBy("month")
  }

  /** cat11 — RESULT CACHE (see [[graft.plans.ResultCache]]): the same
    * pricing-summary rollup issued twice; the first execution publishes
    * the answer keyed by (canonical plan × dataset fingerprint), the
    * second answers by scanning the published parquet — no aggregate,
    * no lineitem touch (spec-pinned, along with fingerprint-keyed
    * invalidation: an mtime bump on any source file misses and
    * recomputes). The declared result is the CACHED answer; the oracle
    * recomputes from raw lineitem, so a hash match proves the cache
    * returns exactly the truth.
    */
  def resultCachedRollup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def rollup = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue"))
    graft.plans.ResultCache.cached(s, d)(rollup) // populate (or prior run's entry)
    graft.plans.ResultCache.cached(s, d)(rollup) // guaranteed hit
      .orderBy("l_returnflag", "l_linestatus")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("cat11_result_cache", resultCachedRollup, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("cat10_mv_star_incremental", mvStarIncremental, Some(
      """SELECT CAST(ts AS DATE) AS day, event_type, c_mktsegment,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    QueryDef("cat12_mv_distinct", mvDistinctRewrite, Some(
      """SELECT CAST(ts AS DATE) AS day,
        |  count(DISTINCT user_id) AS dau
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("cat9_mv_stats_choice", mvStatsChoice, Some(
      """WITH probe AS (
        |  SELECT CAST(min(CAST(ts AS DATE)) AS DATE) + 3 AS d FROM events)
        |SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    / 100, 2) AS revenue
        |FROM events, probe WHERE CAST(ts AS DATE) = probe.d
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("cat8_mv_choice", mvCheapestView, Some(
      """SELECT strftime(date_trunc('month', CAST(ts AS DATE)), '%Y-%m-%d')
        |    AS month,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    / 100, 2) AS revenue
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("cat7_mv_incremental", mvIncrementalMaintenance, Some(
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin)),
    QueryDef("cat6_mv_join", mvJoinRewrite, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    / 100, 2) AS revenue
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QueryDef("cat5_mv_filter", mvFilterCompensation, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click'
        |GROUP BY day ORDER BY day""".stripMargin)),
    QueryDef("cat4_mv_rollup", mvRollupCompensation, Some(
      """SELECT strftime(date_trunc('month', CAST(ts AS DATE)), '%Y-%m-%d')
        |    AS month,
        |  event_type, count(*) AS n,
        |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    / 100, 2) AS revenue
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("cat3_mv_rewrite", mvRewriteRollup, Some(
      // the ORACLE reads raw events — agreement proves the view-backed
      // plan returns exactly the raw-data answer
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin)),
    QueryDef("cat2_analyze_cbo", analyzedCboJoin, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS top_revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 499000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QueryDef("cat1_persistent_sql", persistentCatalogSql, Some(
      """SELECT r_name, count(*) AS n_suppliers,
        |  round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)))
}
