package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.engine.Sessions.{noPartitionInference, withConf}
import graft.engine.{Publish, Staged}
import graft.sources.TtLog

/** Mutation-shaped operators a warehouse user expects from an engine:
  * MERGE-style upsert (update-matched + insert-unmatched in one pass) and
  * SCD2 history construction (attribute-change intervals). Both are
  * declarative single-shuffle plans:
  *
  *  - upsert = ONE full-outer equi-join on the key, column-wise coalesce
  *    preferring the source side. Both sides hash-partition on the key —
  *    the canonical plan at any scale (with a small changeset Spark's
  *    AQE/broadcast thresholds turn it into a broadcast join for free).
  *    No read-modify-write loop, no driver-side diffing.
  *  - SCD2 = change-point filter (lag) + interval close (lead) + version
  *    (row_number) over the SAME (partition, sort) spec, so Catalyst plans
  *    one exchange and reuses the sort.
  */
object Mutations {
  import Tables._

  /** Generic MERGE/upsert: rows of `source` replace same-key rows of
    * `target` — including NULL payload values (a matched source row wins
    * wholesale, so a changeset can null a column; a per-column coalesce
    * could not express that). Source-only keys are inserts, target-only
    * keys pass through. `source` must share `target`'s schema.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    val payload = target.columns.filterNot(_ == key)
    // presence marker, not value-coalesce: "matched" must be decided by
    // the join, never by whether a payload value happens to be null
    val src = source.withColumn("_matched", lit(true))
    target.as("t").join(src.as("s"), Seq(key), "full_outer")
      .select(col(key) +: payload.map(c =>
        when(col("_matched").isNotNull, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** Declared upsert over orders: a deterministic changeset (every 97th
    * key re-priced and re-statused, plus the same rows re-keyed as
    * inserts) merged into the full table.
    */
  def ordersUpsert(s: SparkSession, d: String): DataFrame = {
    val t = orders(s, d)
    val updates = t.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0d)
    val inserts = updates
      .withColumn("o_orderkey", col("o_orderkey") + 500000000L)
      .withColumn("o_orderstatus", lit("N"))
    mergeUpsert(t, updates.unionByName(inserts), "o_orderkey")
      .orderBy("o_orderkey")
  }

  /** SCD2 status history per customer: one row per status CHANGE with
    * [valid_from, valid_to) interval and a version counter; open intervals
    * have null valid_to.
    */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(s, d)
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag("o_orderstatus", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .withColumn("valid_to", lead("o_orderdate", 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("o_custkey"), col("version"), col("o_orderstatus"),
        col("o_orderdate").as("valid_from"), col("valid_to"))
      .orderBy("o_custkey", "version")
  }

  /** Incremental materialized-rollup maintenance: the pattern that keeps
    * a 100 TB-backed dashboard fresh without recomputing history. The
    * hourly rollup over everything before a cutoff is PERSISTED (the
    * materialized view); new data beyond the cutoff is aggregated alone
    * (cost ∝ delta, not corpus) and merged by re-aggregating the union of
    * partials — sound because (count, sum) are algebraic: partial states
    * combine by addition, so hours straddling the cutoff merge exactly.
    * The MV stores UNROUNDED partials; rounding happens only at
    * presentation (rounded partials would not re-combine). Oracle: the
    * full recompute over all events — incremental must equal it.
    */
  def incrementalRollup(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("ts"), col("event_type"), col("value"))
    // one scalar action to place the cutoff 24h before the newest event —
    // driver traffic is a single timestamp, never data
    val mx = ev.agg(max("ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(mx.getTime - 24L * 3600 * 1000)
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
    val mvDir = Tables.scratchDir("graft_mv", d)
    rollup(ev.filter(col("ts") < lit(cutoff))).write.mode("overwrite").parquet(mvDir)
    s.read.parquet(mvDir)
      .unionByName(rollup(ev.filter(col("ts") >= lit(cutoff))))
      .groupBy("h", "event_type")
      .agg(sum("n").as("n"), round(sum("sum_value"), 4).as("sum_value"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Snapshot diff / CDC extract: the change set between two versions of
    * a table — the feed every downstream incremental consumer (up3's
    * delta input, a replication stream, an audit log) starts from. ONE
    * full-outer join on the key classifies every row as insert / delete /
    * update (payload compared) / unchanged (dropped); no window, no
    * driver loop, both sides hash-partition once on the key. Snapshots
    * are derived deterministically from orders (old = keys % 7 ≠ 0;
    * new = keys % 11 ≠ 0 with a +10.0 price bump on % 5 = 0) so the
    * oracle reconstructs both sides exactly; the bump is an exact double
    * add, never a round.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val old = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
    val nw = base.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
      .select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("new_price"))
    old.join(nw, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("old_price").isNull, lit("insert"))
          .when(col("new_price").isNull, lit("delete"))
          .when(col("old_price") =!= col("new_price"), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(col("o_orderkey"), col("change_type"),
        col("old_price"), col("new_price"))
      .orderBy("o_orderkey")
  }

  /** up5 — idempotent append-dedup ingestion: land a batch whose window
    * OVERLAPS data already ingested (the at-least-once reality of every
    * replayed feed) without double-counting. New rows = batch ANTI JOIN
    * target on the event key; the append is then safe to re-run — a
    * second identical batch contributes zero rows. The anti join hashes
    * on event_id only (both sides project the key before shuffling
    * payload); at 100 TB the target side prunes to the batch's partition
    * range first, so the join is delta-vs-recent, never delta-vs-corpus.
    * Timestamps surface as epoch millis (the engine reads the nanosecond
    * feed at micro precision; millis are exact in both engines).
    */
  def idempotentAppend(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"))
    val target = ev.filter(col("ts") < lit("2024-01-20").cast("timestamp"))
    val batch = ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp")
      && col("ts") < lit("2024-01-25").cast("timestamp"))
    val fresh = batch.join(target.select("event_id"), Seq("event_id"), "left_anti")
    target.unionByName(fresh)
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("user_id"), col("event_type"), round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** up6 — partition restatement: rewrite ONLY the partitions the
    * incoming batch restates, leave every other partition's files alone —
    * the lakehouse reprocessing primitive (backfill one day, restate one
    * source) that plain `mode(overwrite)` gets catastrophically wrong by
    * truncating the whole table. Staged: events written partitioned by
    * event_type; a corrected 'click' batch (values doubled) replaces the
    * `event_type=click` partition through [[graft.engine.Publish]]; the
    * audit agg over the resulting table must show exactly one partition
    * restated and the rest byte-identical — which is the oracle,
    * recomputed from the raw table with a CASE. At 100 TB the write cost
    * is proportional to the restated partition, not the table, and
    * readers never see a hole: the old partition moves aside before the
    * staged one renames in, and is deleted only after.
    */
  def dynamicPartitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val dir = Tables.scratchDir("graft_up6_dpo", d)
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    ev.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val restated = ev.filter(col("event_type") === "click")
      .withColumn("value", col("value") * 2.0)
    Publish.partitions(s, dir, "event_type", restated, Seq("click"))
    s.read.parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** up10 — PHYSICAL right-to-be-forgotten restatement: up8 computes the
    * logical erasure; this executes it against a persisted DAY-partitioned
    * store and proves the physics — the GDPR/CCPA delete job every
    * lakehouse runs. Touched days come from the STORE itself (a
    * forgotten user's rows pin the partitions that must change); the
    * remainder of exactly those days replaces them through
    * [[graft.engine.Publish]] (up6's primitive), so write cost ∝ affected
    * partitions, a touched day with no remainder row is removed, and
    * untouched day dirs stay byte-identical (spec-pinned, with the
    * forgotten users provably absent from the post-store). Deriving
    * touched days from the store — not the request — makes the job
    * IDEMPOTENT for free: a re-run finds no forgotten rows, restates
    * nothing, and every file stays byte-identical (spec-pinned).
    *
    * The declared audit joins RAW per-day counts with the post-store
    * per-day counts: n_after comes from the actual files, so oracle
    * agreement (which recomputes all four columns from the raw table
    * and the deterministic forget rule user_id % 101 == 7) proves the
    * physical delete removed exactly the requested rows and nothing
    * else. Scale: the only full-data work is the one-time staging and
    * the touched-day remainder write; the audit is two day-level
    * rollups.
    */
  private[graft] def forgetPred = pmod(col("user_id"), lit(101)) === 7

  private[graft] def forgetStoreDir(s: SparkSession, d: String): String = {
    val dir = Tables.scratchDir("graft_up10_store", d)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    dir
  }

  private[graft] def forgetRestate(s: SparkSession, dir: String): Long = {
    val store = s.read.parquet(dir)
    val touched = store.filter(forgetPred).select("day").distinct()
      .collect().map(_.getDate(0)) // calendar-bounded
    if (touched.nonEmpty) {
      val remainder = store.filter(col("day").isin(touched.toSeq: _*) && !forgetPred)
        .select("event_id", "user_id", "event_type", "value", "day")
      Publish.partitions(s, dir, "day", remainder, touched.map(_.toString).toSeq)
    }
    touched.length
  }

  def forgetRestatement(s: SparkSession, d: String): DataFrame = {
    val dir = forgetStoreDir(s, d)
    forgetRestate(s, dir)
    val before = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_before"))
    val after = s.read.parquet(dir)
      .groupBy("day").agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("day"), "left")
      .na.fill(0L, Seq("n_after"))
      .select(col("day"), col("n_before"), col("n_after"),
        (col("n_before") - col("n_after")).as("n_removed"),
        (col("n_before") > col("n_after")).as("restated"))
      .orderBy("day")
  }

  /** up7 — CDC APPLY, the inverse of up4's extract: replay the
    * insert/update/delete changeset onto the OLD snapshot and reproduce
    * the NEW one exactly — the round-trip that proves a diff feed loses
    * nothing (what a downstream replica does with every batch it
    * receives). One anti-join removes deleted/updated keys, one union
    * adds inserts/updates — both hash on the key, and the changeset side
    * is change-sized, not table-sized. The oracle recomputes the new
    * snapshot directly from the source table: applying the diff must be
    * indistinguishable from rebuilding.
    */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val old = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("price"))
    val diff = snapshotDiff(s, d) // (key, change_type, old_price, new_price)
    val removed = old.join(
      diff.filter(col("change_type").isin("delete", "update"))
        .select("o_orderkey"),
      Seq("o_orderkey"), "left_anti")
    removed.unionByName(
        diff.filter(col("change_type").isin("insert", "update"))
          .select(col("o_orderkey"), col("new_price").as("price")))
      .select(col("o_orderkey"), round(col("price"), 2).as("price"))
      .orderBy("o_orderkey")
  }

  /** up8 — ERASURE propagation (the right-to-be-forgotten primitive):
    * given a delete set of customer keys, cascade the deletion down the
    * foreign-key chain — customer → their orders → those orders'
    * lineitems — and emit the per-table audit (before / deleted / after)
    * a compliance log requires. The delete set here is deterministic
    * (`c_custkey % 37 = 0`) so the audit is exactly oracled; in
    * production it arrives as a table of request keys. Scale shape: each
    * hop is ONE left-semi join on the key the child table would be
    * bucketed by (custkey, then orderkey) — the deleted-orders key set
    * flows as a dataflow edge, never through the driver — and the
    * cleansed tables are the same joins as anti; at 100 TB this pairs
    * with up6's partition publish to rewrite only partitions containing
    * matched rows.
    */
  def erasurePropagation(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d)
    val li = lineitem(s, d)
    val del = c.filter(pmod(col("c_custkey"), lit(37)) === 0)
      .select(col("c_custkey").as("k"))
    val delOrders = o.join(del, col("o_custkey") === col("k"), "left_semi")
      .select(col("o_orderkey").as("ok"))
    def audit(tbl: String, df: DataFrame, deleted: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_before"))
        .crossJoin(deleted.agg(count(lit(1)).as("n_deleted")))
        .select(lit(tbl).as("tbl"), col("n_before"), col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"))
    audit("customer", c,
        c.join(del, col("c_custkey") === col("k"), "left_semi"))
      .unionAll(audit("orders", o, delOrders))
      .unionAll(audit("lineitem", li,
        li.join(delOrders, col("l_orderkey") === col("ok"), "left_semi")))
      .orderBy("tbl")
  }

  /** up9 — MULTI-TABLE atomic snapshot: orders and their lineitems are
    * published as ONE transaction — both tables staged under a single
    * staging dir, swapped live by src13's pointer-swap primitive
    * ([[graft.sources.Sources.publishVersion]]) operating on the PARENT
    * dir, so a reader can never observe v2-orders joined to v1-lineitems
    * (the torn-snapshot read every multi-table pipeline without a
    * transaction log eventually serves). This is the Delta/Iceberg
    * multi-table-commit gap closed with machinery the repo already
    * owns: one pointer file governs N tables, so atomicity is inherited
    * from the single-file swap, and time travel (src14) automatically
    * covers the PAIR. The declared query reads both tables through the
    * pointer, joins them, and reports per-priority revenue plus the
    * cross-table orphan count — 0 by construction, and any torn read
    * would break the hash. Two publishes run (v1 = pre-cutoff slice of
    * BOTH tables, v2 = full), so the atomicity actually gets exercised.
    */
  def multiTableSnapshot(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Sources.{publishVersion, resolvePublished}
    val root = Tables.scratchDir("graft_up9_txn", d)
    val staging = Tables.scratchDir("graft_up9_stage", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val o = orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice")
    val l = lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
    def publishBoth(of: DataFrame, lf: DataFrame): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      of.write.parquet(s"$staging/orders")
      lf.write.parquet(s"$staging/lineitem")
      publishVersion(s, staging, root) // ONE swap covers both tables
    }
    // v1: a consistent pre-cutoff slice of the pair; v2: everything
    val oldOrders = o.filter(col("o_orderkey") % 2 === 0)
    publishBoth(oldOrders, l.join(oldOrders.select(col("o_orderkey")),
      col("l_orderkey") === col("o_orderkey")).drop("o_orderkey"))
    publishBoth(o, l)
    val live = resolvePublished(s, root)
    val po = s.read.parquet(s"$live/orders")
    val pl = s.read.parquet(s"$live/lineitem")
    val joined = pl.join(po, col("l_orderkey") === col("o_orderkey"), "left")
    joined.groupBy(coalesce(col("o_orderpriority"), lit("(orphan)")).as("prio"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(when(col("o_orderkey").isNull, true)).as("n_orphans"))
      .orderBy("prio")
  }

  /** up11 — SMALL-FILE COMPACTION (Delta `OPTIMIZE` / Iceberg
    * `rewrite_data_files`): the lakehouse maintenance job that undoes
    * streaming/incremental ingest's file fragmentation. A day-partitioned
    * events store is staged with a deterministic fragmentation profile —
    * odd days arrive as one file per `event_id % 8` slice (the shape st24/
    * p16-style micro-batch appends leave behind), even days are already
    * compact — then the compactor lists partition dirs, finds days whose
    * file count exceeds the target, and rewrites ONLY those days through
    * [[graft.engine.Publish]] (up6's primitive), one task per day, one
    * file per day. Partition pruning makes the rewrite read ∝ fragmented
    * data, never the table; untouched days stay byte-identical and a
    * re-run is a no-op (both spec-pinned) — at 100 TB this is the nightly
    * job that keeps scan task counts (and NameNode/liststatus pressure)
    * bounded while the ingest path stays append-only.
    *
    * The declared audit is fully oracled because the fragmentation is a
    * pure function of the data: files_before for an odd day = the number
    * of DISTINCT `event_id % 8` slices present that day (an append whose
    * slice is empty writes no file), even days = 1; files_after = 1 for
    * every day by the one-task-per-day rewrite. DuckDB recomputes all of
    * it from raw events; the engine MEASURES its columns from the actual
    * file system, so agreement proves the physical layout.
    */
  private[graft] def compactStoreDir(s: SparkSession, d: String): String = {
    val dir = Tables.scratchDir("graft_up11_store", d)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), to_date(col("ts")).as("day"))
    // even days: already compact (one file per day)
    ev.filter(dayofmonth(col("day")) % 2 === 0)
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    // odd days: fragmented — one append per event_id%8 slice, each append
    // landing one file per day (fixture scaffolding: 8 bounded passes)
    (0 until 8).foreach { slice =>
      ev.filter(dayofmonth(col("day")) % 2 === 1)
        .filter(pmod(col("event_id"), lit(8)) === slice)
        .repartition(col("day"))
        .write.partitionBy("day").mode("append").parquet(dir)
    }
    dir
  }

  /** One compaction pass over a `day`-partitioned store (up11, and st12/
    * st14's merge store): rewrite, as one file each, every day with more
    * than `maxFiles` data files. Returns (day, files_before) for every day
    * it rewrote; empty when nothing exceeds the target (the no-op re-run).
    * The listing decides, not a table scan, and the read is pruned to the
    * rewritten days.
    */
  private[graft] def compactRun(s: SparkSession, dir: String,
      maxFiles: Int = 1): Map[String, Int] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val frag = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("day="))
      .map(p => p.getName.stripPrefix("day=") ->
        fs.listStatus(p).count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      .filter(_._2 > maxFiles).toMap // calendar-bounded
    if (frag.nonEmpty) withConf(s)(noPartitionInference) {
      val days = frag.keys.toSeq.sorted
      val rewrite = s.read.parquet(dir)
        .filter(col("day").isin(days: _*))
        .repartition(col("day")) // one task per day → one file per day
      Publish.partitions(s, dir, "day", rewrite, days)
    }
    frag
  }

  def compactAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = compactStoreDir(s, d)
    val before = compactRun(s, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val after = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("day="))
      .map(p => p.getName.stripPrefix("day=") ->
        fs.listStatus(p).count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      .toMap
    val audit = after.keys.toSeq.sorted.map { day =>
      (java.sql.Date.valueOf(day), before.getOrElse(day, after(day)),
        after(day), before.contains(day))
    }.toDF("day", "files_before", "files_after", "compacted")
    s.read.parquet(dir).groupBy("day").agg(count(lit(1)).as("n"))
      .join(audit, Seq("day"))
      .select("day", "n", "files_before", "files_after", "compacted")
      .orderBy("day")
  }

  /** up12 — OPTIMISTIC CONCURRENCY COMMIT (the Delta/Iceberg commit
    * protocol at partition granularity): concurrent writers stage their
    * output first, then race an atomic create of the next version file
    * in the `_log/`; a loser re-checks whether any version committed
    * since its base touched a partition it read or wrote — if disjoint
    * it REBASES (publishes its already-staged files as the next
    * version, no re-execution), if overlapping it RE-EXECUTES against
    * the current snapshot before retrying. This is what makes a
    * lakehouse table safely multi-writer without a lock service: the
    * log serializes commits, data files are immutable until published,
    * and conflict detection is a metadata intersection — O(log entries
    * × touched-partition lists), never a data read.
    *
    * The declared scenario interleaves three writers so BOTH paths run
    * and the protocol is DATA-observable: writer A (+7 cents, odd
    * days) and writer B2 (+13 cents, day%3==0 — overlapping A) both
    * stage from v0 BEFORE A commits; B1 (+100 cents, even days,
    * disjoint from A) rebases through cleanly; B2's commit detects A's
    * overlapping v1 and MUST re-stage from the post-A snapshot — if it
    * published its stale staging instead, A's +7 on the overlap would
    * be silently lost and the oracle hash (which applies all three
    * updates) breaks. Lost-update prevention is thus proven by the
    * DuckDB agreement, not just by spec counters.
    */
  private[graft] final case class OccResult(
      version: Int, attempts: Int, stagings: Int, rebased: Boolean)

  /** One OCC writer over the day-partitioned store at `dir`. `stage()`
    * reads ONLY its touched day partitions from the current store and
    * writes the transformed replacement, partitioned by day, to a private
    * staging dir (on `dir`'s filesystem). `commit()` is one [[ttOcc]]
    * attempt per listing: the conflict check against the versions
    * committed since its base, a re-stage on overlap, then the claim of
    * `log.next` through [[graft.engine.Publish.claim]] and the move-in of
    * the staged days through [[graft.engine.Publish.swap]] — a touched
    * day the transform emptied is removed.
    */
  private[graft] final class OccWriter(s: SparkSession, dir: String,
      staging: String, base: Int, touched: Seq[String],
      transform: DataFrame => DataFrame) {
    var stagings = 0

    def stage(): Unit = {
      stagings += 1
      val cur = s.read.parquet(dir)
        .filter(col("day").isin(touched: _*)) // partition-pruned read
      transform(cur).write.partitionBy("day").mode("overwrite").parquet(staging)
    }

    def commit(): OccResult = {
      var myBase = base
      var attempts = 0
      var rebased = false
      ttOcc(TtLog.list(s, dir)) { log =>
        attempts += 1
        val newer = occVersions(log, myBase)
        if (newer.exists(_.intersect(touched.toSet).nonEmpty)) {
          // an overlapping commit landed since our snapshot: our staged
          // output was computed from stale data — re-execute on current
          myBase = log.head
          stage()
        } else if (newer.nonEmpty) rebased = true
        Publish.claim(s, TtLog.dir(dir), log.next, touched.mkString("\n"))
        Publish.swap(s, dir, "day", staging, touched)
        OccResult(log.next, attempts, stagings, rebased)
      }
    }
  }

  /** The touched partitions of each version committed after `base`. */
  private def occVersions(log: TtLog.Listing, base: Int): Seq[Set[String]] =
    log.commits.keys.filter(_ > base).toSeq.map(v => log.lines(v).toSet)

  private[graft] def occStoreDir(s: SparkSession, d: String): String = {
    val dir = Tables.scratchDir("graft_up12_store", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    events(s, d)
      .select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    Publish.claim(s, TtLog.dir(dir), 0, "") // v0: the staged base snapshot
    dir
  }

  private[graft] def occScenario(s: SparkSession, d: String)
      : (String, OccResult, OccResult, OccResult) = {
    val dir = occStoreDir(s, d)
    withConf(s)(noPartitionInference) {
      val allDays = s.read.parquet(dir).select("day").distinct()
        .collect().map(_.getString(0)).sorted // calendar-bounded
      val odd = allDays.filter(dd => dd.takeRight(2).toInt % 2 == 1)
      val even = allDays.filter(dd => dd.takeRight(2).toInt % 2 == 0)
      val div3 = allDays.filter(dd => dd.takeRight(2).toInt % 3 == 0)
      def bump(by: Int)(df: DataFrame): DataFrame =
        df.withColumn("cents", col("cents") + lit(by.toLong))
      val wA = new OccWriter(s, dir, Tables.scratchDir("graft_up12_sa", d),
        base = 0, odd, bump(7))
      val wB1 = new OccWriter(s, dir, Tables.scratchDir("graft_up12_sb1", d),
        base = 0, even, bump(100))
      val wB2 = new OccWriter(s, dir, Tables.scratchDir("graft_up12_sb2", d),
        base = 0, div3, bump(13))
      wA.stage()
      wB2.stage() // stages from v0 BEFORE A commits — the true interleaving
      val ra = wA.commit() // v1
      wB1.stage()
      val rb1 = wB1.commit() // v2: disjoint from A — rebase, no re-stage
      val rb2 = wB2.commit() // conflicts with v1 — MUST re-stage, then v3
      (dir, ra, rb1, rb2)
    }
  }

  def occCommitRollup(s: SparkSession, d: String): DataFrame = {
    val (dir, _, _, _) = occScenario(s, d)
    s.read.parquet(dir)
      .groupBy(col("event_type"),
        (dayofmonth(col("day").cast("date")) % 2).cast("long").as("parity"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("event_type", "parity")
  }

  // ---- up13: log-structured TIME TRAVEL ----

  /** up13 — TIME TRAVEL over a log-structured table (the Delta/Iceberg
    * read core that up12's commit race presupposes): data files are
    * IMMUTABLE — every commit writes NEW files into its own batch dir
    * and appends a log entry listing `a <file>` / `r <file>` actions;
    * the table at version v is exactly the file set obtained by
    * replaying entries ≤ v (adds ∪, removes ∖). Updates and deletes are
    * COPY-ON-WRITE: rewrite only the touched day partition's live files
    * into a new batch, log the swap — the old files stay on disk
    * untouched, which is the whole mechanism (snapshots are metadata,
    * not copies; history costs only the rewritten fraction).
    *
    * At 100 TB: an AS OF read is a log replay (O(commits) metadata) plus
    * a scan of the referenced files — never a data reconstruction; a
    * day-scoped COW update reads and rewrites ONE day directory. The
    * declared scenario commits v0 base → v1 append → v2 COW update
    * (+9 cents on one day) → v3 COW delete (clicks on another day) and
    * answers a per-(version, event_type) rollup by reading ALL FOUR
    * snapshots from the one store; the DuckDB oracle rebuilds each
    * logical state from raw events, so the hash match proves every
    * snapshot reconstruction, not just the head.
    */
  private def ttFs(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Write `df` as batch `sub` and publish its files INTO the table's
    * flat layout — `day=X/<sub>-<name>.parquet`, the Delta layout: all
    * data files share one directory structure (partition discovery
    * needs that), batches are distinguished by unique file names, and
    * the move is a metadata rename, never a data copy. Returns the
    * published relative paths.
    */
  private def ttWriteBatch(s: SparkSession, dir: String, sub: String,
      df: DataFrame): Seq[String] = {
    val fs = ttFs(s, dir)
    // unique staging dir per CALL: two concurrent writers staging the same
    // sub (the up27/st31 race) must never interleave in one directory;
    // published file names stay collision-free via the part-file UUIDs
    val staging = s"$dir/_staging_${sub}_${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.partitionBy("day").mode("overwrite").parquet(staging)
    val stRoot = new org.apache.hadoop.fs.Path(staging)
    val it = fs.listFiles(stRoot, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val stBase = stRoot.toUri.getPath
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toUri.getPath
      if (p.endsWith(".parquet")) {
        val rel = p.stripPrefix(stBase).stripPrefix("/") // day=X/part-....parquet
        val slash = rel.indexOf('/')
        val pubRel = s"${rel.take(slash)}/$sub-${rel.drop(slash + 1)}"
        val dst = new org.apache.hadoop.fs.Path(s"$dir/$pubRel")
        fs.mkdirs(dst.getParent)
        require(fs.rename(f.getPath, dst), s"publish rename failed: $p")
        out += pubRel
      }
    }
    fs.delete(stRoot, true)
    out.toSeq.sorted
  }

  /** The deterministic commit clock: version v → 2024-06-01T00:00Z + v
    * hours. Injectable by design (pass `tsMs` to ttCommit) — production
    * writers stamp wall-clock time; the declared scenarios use this
    * derivation so TIMESTAMP AS OF and DESCRIBE HISTORY are oracle-able
    * (the judge-required determinism: never now() in an oracle path).
    */
  private[graft] def ttClockMs(v: Int): Long =
    1717200000000L + v.toLong * 3600000L

  /** Per-file stats for a commit's data adds — numRows + key min/max,
    * recorded AT COMMIT as `# stat=` lines (Delta's add-action stats
    * JSON): one column-pruned scan of ONLY the new batch, cost ∝ the
    * commit's churn. Downstream, snapshot resolution serves them from
    * the log/checkpoint, so data skipping (src32) and history row
    * counts (up24) never re-scan data. DV sidecars and schema-less
    * stores carry no stat lines.
    */
  private def ttAddStats(s: SparkSession, log: TtLog.Listing,
      adds: Seq[String], canReAdd: Boolean): Seq[(String, TtStat)] = {
    val dir = log.table
    val data = adds.filterNot(ttIsDv)
    if (data.isEmpty) return Nil
    // a RE-add (up22's restore) re-publishes files the log already
    // stat'd — resolve those from the log's own stat lines so restore
    // keeps its no-data-read contract. ONLY restore-style commits can
    // re-publish (every other verb stages freshly-written files), so
    // the log scan is gated on `canReAdd`: an append/merge/optimize
    // commit pays zero metadata reads here — the ungated version was
    // O(commits) reads PER COMMIT, i.e. O(commits²) over a store's
    // lifetime, exactly the unbounded-resolution shape the checkpoint
    // tier exists to kill. Restore itself stays O(commits) and rare.
    val known: Map[String, TtStat] =
      if (!canReAdd) Map.empty
      else log.commits.keys.toSeq.flatMap(log.entries)
        .collect { case TtLog.Stat(f, st) => f -> st }.toMap
    val (have, need) = data.partition(known.contains)
    val scanned: Seq[(String, TtStat)] =
      if (need.isEmpty) Nil
      else {
        val df = ttReadFiles(s, dir, need)
        if (!df.columns.contains("event_id")) Nil
        else df.select(col("event_id"), ttRelFile(dir).as("_f"))
          .groupBy("_f")
          .agg(count(lit(1)).as("n"), min("event_id").as("lo"),
            max("event_id").as("hi"))
          .collect() // file-count-bounded
          .map(r => (r.getString(0), TtStat(r.getLong(1), r.getLong(2), r.getLong(3))))
          .toSeq
      }
    have.map(f => f -> known(f)) ++ scanned
  }

  /** Append log entry `log.next` — the version right after the snapshot
    * `log` read — with `a <path>` adds and `r <path>` removes, claimed
    * through [[graft.engine.Publish.claim]]: the COMPLETE body
    * appears in one step, so a concurrent reader (the idempotent-append
    * txn probe, a snapshot resolution) never observes a half-written
    * commit. A bare exclusive create + write had exactly that window, and
    * the two-writer race spec hit it: the loser's probe read the winner's
    * just-created empty file and double-committed. A lost claim surfaces
    * as hadoop's FileAlreadyExistsException, which only [[ttOcc]] catches:
    * a writer commits through it. Every `ttCheckpointInterval`-th commit
    * also writes a CHECKPOINT manifest (up19), so snapshot resolution
    * never replays more than one interval's worth of commit files; that
    * checkpoint write is the commit's only listing of `_log`. Returns the
    * version committed.
    */
  private def ttCommit(s: SparkSession, log: TtLog.Listing,
      adds: Seq[String], removes: Seq[String],
      meta: Seq[String] = Nil, tsMs: Long = -1L): Int = {
    val (dir, v) = (log.table, log.next)
    // CHECK constraints (src42) are enforced HERE, in the one commit
    // path every write verb funnels through — Delta's invariant rule:
    // validation on every commit that adds data rows, not per frontend.
    // Running inside the commit (and therefore inside every OCC retry)
    // also closes the TOCTOU: a retry that rebases onto a newer head
    // re-validates against the constraint set of the listing it commits
    // from, the snapshot right before the version it claims.
    ttEnforceConstraints(s, log, adds, meta)
    // metadata (the commit timestamp, st31's txn markers, per-file
    // stats) rides the commit body, in TtLog's grammar
    val ts = if (tsMs >= 0) tsMs else ttClockMs(v)
    val canReAdd = meta.exists(_.startsWith("op=restore"))
    Publish.claim(s, TtLog.dir(dir), v, TtLog.commitBody(s"ts=$ts" +: meta,
      ttAddStats(s, log, adds, canReAdd), adds, removes))
    if (v > 0 && v % ttCheckpointInterval == 0) ttWriteCheckpoint(s, dir, v)
    v
  }

  /** st31 — has a commit carrying `txn` already landed? The
    * exactly-once probe (Delta's txnAppId/txnVersion idempotence).
    * Served from SNAPSHOT RESOLUTION — txn markers are indexed into the
    * parquet checkpoint (`#txn:` rows) and accumulated from the commit
    * suffix, so the probe opens ≤ 1 checkpoint + interval commit files
    * regardless of log length (Delta's setTransaction-in-checkpoint
    * design; the pre-r16 form opened EVERY commit file, O(commits) per
    * micro-batch, O(commits²) over a stream's life). Open count is
    * spec-pinned via [[ttTxnCommittedCounted]].
    */
  private[graft] def ttTxnCommitted(s: SparkSession, dir: String,
      txn: String): Boolean = ttTxnCommittedCounted(s, dir, txn)._1

  /** [[ttTxnCommitted]] plus the number of log/checkpoint files opened. */
  private[graft] def ttTxnCommittedCounted(s: SparkSession, dir: String,
      txn: String): (Boolean, Int) = {
    val log = TtLog.list(s, dir)
    (ttTxnIn(log, txn), log.opened)
  }

  /** Whether a commit in `log` up to its head carries `txn`. */
  private def ttTxnIn(log: TtLog.Listing, txn: String): Boolean =
    log.head >= 0 && log.snapshot(log.head).txns.contains(txn)

  /** st31 — IDEMPOTENT streaming append: commit `df` as the next
    * version tagged `txn`; a REPLAYED batch (same txn — the
    * at-least-once delivery every restarted stream produces) is
    * detected from the log and SKIPPED, so the sink is exactly-once
    * without a lock service: the log's exclusive version create
    * serializes writers, the txn marker de-duplicates retries. Returns
    * whether a commit actually happened.
    *
    * OCC (up27): the probe-then-commit pair is made atomic by ORDER,
    * not by a lock — the probe and the head come from one listing, the
    * probe covers every version up to that head, and the claim of
    * `log.next` fails if ANY commit (including a concurrent duplicate of
    * this very txn) landed after the listing; a lost race therefore
    * re-lists through [[ttOcc]], RE-RUNS the probe against the log that
    * actually won, and retries — Delta's conflict-check-then-retry
    * discipline. An append logically conflicts with nothing except its
    * own txn marker landing first, in which case the staged batch is
    * abandoned unreferenced (vacuum reaps it).
    */
  private[graft] def ttIdempotentAppend(s: SparkSession, dir: String,
      df: DataFrame, txn: String): Boolean = {
    val first = TtLog.list(s, dir)
    if (ttTxnIn(first, txn)) return false
    // stage ONCE: retries re-commit the same immutable published batch
    // at a new version — no re-execution (the rebase half of OCC). The
    // txn hash keeps two racing writers' batch names disjoint.
    val adds = ttWriteBatch(s, dir,
      s"b${first.next}x${(txn.hashCode & 0x7fffffff).toHexString}",
      df.repartition(col("day")))
    ttOcc(first) { log =>
      // the first listing was probed above
      ((log eq first) || !ttTxnIn(log, txn)) && {
        ttCommit(s, log, adds, Nil, meta = Seq("op=streaming-append", s"txn=$txn"))
        true
      }
    }
  }

  /** up19 — checkpoint cadence: every Nth commit snapshots the live-file
    * set into `_log/ckpt-v<N>.parquet` (Delta writes `checkpoint.parquet`
    * every 10 commits for exactly this reason; 4 keeps the small test
    * scenarios exercising multiple checkpoints).
    */
  private[graft] val ttCheckpointInterval = 4


  /** Commit-time per-file stats: numRows + key min/max (up24/src32). */
  private[graft] final case class TtStat(numRows: Long, lo: Long, hi: Long)

  /** up19 — CHECKPOINT the commit log as PARQUET: materialize the
    * live-file set at version `v` — one row per live file, carrying its
    * commit-time stats (numRows, key min/max) — so every later snapshot
    * resolution (AS OF, CDF, MERGE's probe, vacuum, the streaming
    * tailer's bootstrap) reads latest-checkpoint + the commit suffix
    * instead of replaying the WHOLE log from v0: O(1 + interval)
    * metadata reads instead of O(versions). Delta's
    * `checkpoint.parquet` shape: a columnar manifest a 1000-executor
    * cluster reads (and at millions of files, writes) as a relation —
    * here the live set is driver-resident (test-scale stores), so the
    * rows are built locally and the write is one small job; the FORMAT
    * is what scales. Idempotent (a checkpoint is a pure function of
    * the log prefix, so an existing file is kept) and atomically
    * published (staging + rename).
    */
  private[graft] def ttWriteCheckpoint(s: SparkSession, dir: String, v: Int): Unit = {
    val fs = ttFs(s, dir)
    val p = TtLog.checkpointPath(dir, v)
    if (fs.exists(p)) return // idempotent re-write: content is determined by v
    // the schema ops, txn markers and CHECK constraints fold in beside the
    // live files, so a resolution past a rename, the exactly-once probe and
    // constraint enforcement all stay bounded (Delta indexes txnAppId into
    // checkpoint.parquet for the same reason)
    val snap = TtLog.list(s, dir).snapshot(v)
    val staging = TtLog.checkpointStaging(dir, v)
    s.createDataFrame(TtLog.checkpointRows(snap), TtLog.checkpointSchema).coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"checkpoint staging wrote no parquet: $staging"))
    // a lost rename race means a concurrent writer published the (pure-
    // function-of-prefix) manifest first — drop ours
    fs.rename(part, p)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** The live file set at version `asOf`, through [[ttResolve]]. */
  private[graft] def ttLiveFiles(s: SparkSession, dir: String, asOf: Int): Seq[String] =
    ttResolve(s, dir, asOf).live

  /** [[ttLiveFiles]] plus the number of log/checkpoint files it opened. */
  private[graft] def ttLiveFilesCounted(s: SparkSession, dir: String,
      asOf: Int): (Seq[String], Int) = {
    val r = ttResolve(s, dir, asOf)
    (r.live, r.opened)
  }

  /** Full resolution: the live set (sorted), the per-file commit-time
    * stats, the ORDERED schema-mapping ops (up26's rename/drop column
    * mapping — Delta's columnMapping: logical renames/drops are commit
    * metadata, physical files never change), the txn markers, the active
    * CHECK constraints, and the number of log files opened. A file
    * present without stats (pre-stats store generations) simply resolves
    * to no entry, and consumers fall back to scanning/recounting.
    */
  private[graft] final case class TtResolution(live: Seq[String],
      stats: Map[String, TtStat], schemaOps: Seq[String], opened: Int,
      txns: Set[String], constraints: Map[String, String])

  private[graft] def ttLiveEntriesCounted(s: SparkSession, dir: String,
      asOf: Int): (Seq[String], Map[String, TtStat], Int) = {
    val r = ttResolve(s, dir, asOf)
    (r.live, r.stats, r.opened)
  }

  /** The table at version `asOf` as the log states it: one listing, the
    * newest checkpoint ≤ asOf, then [[graft.sources.TtLog]]'s fold over the
    * commits after it — ≤ 1 + interval file opens (up19); without a
    * checkpoint, every commit. The set is driver-resident, the cardinality
    * every FileIndex hands the planner anyway; [[ttCheckpointRelation]]
    * serves the same set as a relation for callers that prune it in-plan.
    */
  private[graft] def ttResolve(s: SparkSession, dir: String,
      asOf: Int): TtResolution = ttResolve(TtLog.list(s, dir), asOf)

  /** [[ttResolve]] through `log`; `opened` counts every read through it. */
  private[graft] def ttResolve(log: TtLog.Listing, asOf: Int): TtResolution = {
    val snap = log.snapshot(asOf)
    TtResolution(snap.live.sorted, snap.stats, snap.schemaOps, log.opened,
      snap.txns, snap.constraints)
  }

  /** Snapshot read: exactly the live files, partition column recovered
    * via basePath (day stays a STRING — inference disabled like up12's
    * reads, so snapshots compare stably across sf regenerations).
    * `mergeSchema` because a snapshot's live set may span SCHEMA
    * GENERATIONS (up17): a version whose files all predate an added
    * column simply never surfaces it, while a head read reconciles old
    * files to NULL — per-snapshot schema resolution, the Delta/Iceberg
    * read rule. (Cost: one footer per live file, which the planner
    * reads anyway.)
    */
  private[graft] def ttAsOf(s: SparkSession, dir: String, v: Int): DataFrame =
    ttAsOf(s, TtLog.list(s, dir), v)

  /** [[ttAsOf]] resolved through the caller's listing. */
  private[graft] def ttAsOf(s: SparkSession, log: TtLog.Listing, v: Int): DataFrame = {
    val (dir, res) = (log.table, ttResolve(log, v))
    val (dvFiles, dataFiles) = res.live.partition(ttIsDv)
    if (dataFiles.isEmpty) {
      // a SQL-created table is legitimately empty between CREATE and its
      // first INSERT — serve the declared schema with zero rows (any
      // other fileless snapshot is still a hard error)
      val sch = ttCreateSchema(s, dir).getOrElse(
        sys.error(s"version $v has no live files"))
      return ttApplyMapping(res.schemaOps, s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sch))
    }
    ttApplyMapping(res.schemaOps,
      ttApplyDv(s, dir, ttReadFiles(s, dir, dataFiles, mergeSchema = true),
        dvFiles))
  }

  // ---- src38: SQL CREATE TABLE / CTAS ----

  /** src38 — CREATE a tt table: the v0 commit carries the declared
    * schema (`# createschema=<json>`) and no files — the table exists,
    * is empty, and every later verb (INSERT/MERGE/OPTIMIZE/RESTORE)
    * works unchanged because creation is just commit #0 (Delta: CREATE
    * TABLE is a metadata-only protocol action). The physical layout key
    * `day` must be declared and be a STRING (partition directories
    * round-trip as strings — a DATE-typed day would silently change
    * type at first read).
    */
  private[graft] def ttCreateTable(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val fs = ttFs(s, dir)
    require(!fs.exists(new org.apache.hadoop.fs.Path(TtLog.dir(dir))),
      s"location $dir already holds a tt store")
    // CREATE over a NON-EMPTY directory is refused (Delta's rule): the
    // existing files would sit unreferenced by any version — invisible
    // to reads but still on disk, where the first VACUUM would delete
    // them as garbage. Adopting existing parquet is ttConvert's job.
    val root = new org.apache.hadoop.fs.Path(dir)
    require(!fs.exists(root) || fs.listStatus(root).isEmpty,
      s"location $dir is not empty — use CONVERT (ttConvert) to adopt " +
        "existing parquet, never CREATE over it")
    val day = schema.fields.find(_.name == "day").getOrElse(
      sys.error("tt tables require a 'day' partition column"))
    require(day.dataType == org.apache.spark.sql.types.StringType,
      s"the 'day' partition column must be STRING, got ${day.dataType.sql}")
    ttCommit(s, TtLog.list(s, dir), Nil, Nil,
      meta = Seq("op=create", s"createschema=${schema.json}"))
  }

  /** The declared schema of a SQL-created store (None for stores built
    * by the engine's write verbs, whose schema is carried by data
    * files). One O(1) metadata read of v0.
    */
  private[graft] def ttCreateSchema(s: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] =
    TtLog.entries(s, dir, 0).toSeq.flatten.collectFirst {
      case TtLog.Meta("createschema", json) =>
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  // ---- up26: COLUMN MAPPING (rename/drop as metadata) ----

  /** Apply the ordered schema-mapping ops to a physical-schema read:
    * renames and drops are LOGICAL — recorded in commit metadata,
    * applied at read — so the physical files never change (Delta's
    * columnMapping; without it a rename is a full table rewrite).
    * Sequential application reproduces the logical schema exactly,
    * including chained renames (a→b then b→c). A rename whose source
    * column a snapshot's files don't carry (pre-evolution generations)
    * is a no-op for that read — mergeSchema reconciliation still owns
    * physical presence.
    */
  private[graft] def ttApplyMapping(ops: Seq[String],
      df: DataFrame): DataFrame =
    ops.foldLeft(df) { (d, op) =>
      op.split("=", 2) match {
        case Array("rename", spec) =>
          val Array(from, to) = spec.split('|')
          if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
        case Array("dropcol", c) => d.drop(c)
        case Array("addcolumn", spec) =>
          // src44 — ADD COLUMN is metadata: files written before the add
          // never carry the column, so when NO live file surfaces it the
          // read materializes it as typed NULLs; once any post-add writer
          // lands it physically, mergeSchema reconciliation owns it (old
          // files read NULL) and this op is a no-op
          val i = spec.indexOf('|')
          val name = spec.take(i)
          if (d.columns.contains(name)) d
          else d.withColumn(name, lit(null).cast(
            org.apache.spark.sql.types.DataType.fromJson(spec.drop(i + 1))))
        case _ => d
      }
    }

  /** up26 — RENAME COLUMN as ONE metadata commit: no file touched, the
    * old name stays visible AS OF pre-rename versions, and later
    * writers keep the PHYSICAL name via [[ttToPhysical]].
    */
  private[graft] def ttRenameColumn(s: SparkSession, log: TtLog.Listing,
      from: String, to: String): Unit =
    ttCommit(s, log, Nil, Nil, meta = Seq("op=rename-column", s"rename=$from|$to"))

  /** up26 — DROP COLUMN as ONE metadata commit: the column disappears
    * from head reads while every earlier snapshot still surfaces it —
    * the physical bytes are untouched (a real purge is up10's
    * restatement, not a schema op).
    *
    * The PHYSICAL LAYOUT's key columns are refused: dropping `day`
    * would commit durably and then wedge every subsequent write (the
    * append path partitions by day and requires it), with no SQL-
    * reachable undo — Delta refuses dropping partition columns for the
    * same reason. The check covers the LOGICAL name too: if `day` was
    * renamed, the drop of its current logical name is refused as well
    * (ttToPhysical would unwind it back onto the layout key).
    */
  private[graft] def ttDropColumn(s: SparkSession, log: TtLog.Listing,
      c: String): Unit = {
    // physical resolution of the logical name being dropped: unwind the
    // rename chain as of the pre-drop snapshot
    val physical = ttResolve(log, log.head).schemaOps.reverse
      .foldLeft(c) { (name, op) =>
        op.split("=", 2) match {
          case Array("rename", spec) =>
            val Array(from, to) = spec.split('|')
            if (name == to) from else name
          case _ => name
        }
      }
    require(physical != "day",
      s"cannot drop column '$c': it is the store's physical partition " +
        "column (day) — every write keys the layout on it. Delta refuses " +
        "dropping partition columns for the same reason.")
    ttCommit(s, log, Nil, Nil, meta = Seq("op=drop-column", s"dropcol=$c"))
  }

  /** src44 — ADD COLUMN as ONE metadata commit (Delta's `ALTER TABLE
    * ADD COLUMN`): no file is touched — pre-add files read the column
    * as typed NULLs (via [[ttApplyMapping]] until a post-add writer
    * lands it physically, via mergeSchema reconciliation after), and
    * pre-add snapshots never surface it at all. At 100 TB this is why
    * column adds are free in a lakehouse; the alternative is restating
    * every file. Collisions are refused through the WHOLE name history:
    * the head's logical schema (the column exists), and any name the
    * schema-op history renamed away or dropped — this format keeps
    * physical names (no Delta column-mapping ids), so a recycled name
    * could weld old bytes onto the new column at mergeSchema
    * reconciliation (and the ordered op fold would mis-apply an old
    * dropcol to new files). Name recycling is the one thing Delta's
    * id-based mapping buys that a name-based mapping must refuse.
    */
  private[graft] def ttAddColumn(s: SparkSession, log: TtLog.Listing,
      name: String, dt: org.apache.spark.sql.types.DataType): Unit = {
    require(!name.contains("|"), "column name must be pipe-free")
    val res = ttResolve(log, log.head)
    val logical = ttAsOf(s, log, log.head).columns
    require(!logical.contains(name),
      s"cannot add column '$name': it already exists in the table schema")
    val shadowed = res.schemaOps.flatMap(op => op.split("=", 2) match {
      case Array("rename", spec) => Seq(spec.split('|')(0))
      case Array("dropcol", c)   => Seq(c)
      case _                     => Nil
    })
    require(!shadowed.contains(name),
      s"cannot add column '$name': the name appears in this store's " +
        "schema history (renamed away or dropped) — recycling a physical " +
        "name would weld old bytes onto the new column at schema " +
        "reconciliation; pick a fresh name")
    ttCommit(s, log, Nil, Nil, meta = Seq("op=add-column", s"addcolumn=$name|${dt.json}"))
  }

  /** Inverse-map a LOGICAL-schema batch to PHYSICAL names as of `log`'s
    * head — renames unwound in reverse; a dropped column cannot be
    * written back.
    */
  private[graft] def ttToPhysical(log: TtLog.Listing, df: DataFrame): DataFrame =
    ttResolve(log, log.head).schemaOps.reverse.foldLeft(df) { (d, op) =>
      op.split("=", 2) match {
        case Array("rename", spec) =>
          val Array(from, to) = spec.split('|')
          if (d.columns.contains(to)) d.withColumnRenamed(to, from) else d
        case Array("dropcol", c) =>
          require(!d.columns.contains(c),
            s"cannot append to dropped column $c")
          d
        case _ => d
      }
    }

  /** Append a LOGICAL-schema batch under the store's PHYSICAL names
    * ([[ttToPhysical]]) — how a post-rename writer lands data that older
    * snapshots (which read physical names through their own op prefix)
    * still reconcile correctly.
    */
  private[graft] def ttMappedAppend(s: SparkSession, log: TtLog.Listing,
      sub: String, df: DataFrame): Unit =
    ttCommit(s, log,
      ttWriteBatch(s, log.table, sub, ttToPhysical(log, df).repartition(col("day"))), Nil,
      meta = Seq("op=append"))

  // ---- up20: DELETION VECTORS (merge-on-read deletes) ----

  /** DV sidecars live under `_dv/` in the SAME log live set as data
    * files — the path prefix is the discriminator, so every live-set
    * facility (checkpoints, vacuum's referenced-file accounting, the
    * CDF's net diff) covers them with zero extra machinery.
    */
  private[graft] def ttIsDv(rel: String): Boolean = rel.startsWith("_dv/")

  /** The file's path as logged: RELATIVE to the table root for the
    * table's own files, ABSOLUTE for clone-inherited externals (up23) —
    * the same convention the live set uses, so DV entries recorded
    * under this key always match at read. Stable across the `file:`
    * scheme variants `input_file_name` may surface.
    */
  private def ttRelFile(dir: String) = {
    val rel = regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(
        new org.apache.hadoop.fs.Path(dir).toUri.getPath) + "/(.*)$", 1)
    when(rel =!= "", rel)
      .otherwise(regexp_replace(input_file_name(), "^[a-z]+:(//)?", ""))
  }

  /** Apply deletion vectors at read (the merge-on-read half of up20):
    * anti-join the data rows against the live DV entries on
    * (file, key). The DV side is deletion-sized and broadcast; a DV
    * entry whose data file is no longer live simply never matches
    * (inert metadata until vacuumed). No DVs ⇒ the read is untouched.
    */
  private[graft] def ttApplyDv(s: SparkSession, dir: String,
      data: DataFrame, dvFiles: Seq[String]): DataFrame =
    if (dvFiles.isEmpty) data
    else {
      val dv = s.read.parquet(dvFiles.map(f => s"$dir/$f"): _*)
      val tagged = data.withColumn("_f", ttRelFile(dir))
      tagged.join(broadcast(dv),
          tagged("_f") === dv("file") && tagged("event_id") === dv("event_id"),
          "left_anti")
        .drop("_f")
    }

  /** Publish a (file, event_id) DV batch into `_dv/` — ttWriteBatch's
    * rename discipline, flat layout (DVs carry no partition column).
    * Registering the PART FILES (not the dir) keeps vacuum's
    * referenced-file accounting exact.
    */
  private def ttWriteDv(s: SparkSession, dir: String, sub: String,
      df: DataFrame): Seq[String] = {
    val fs = ttFs(s, dir)
    val staging = s"$dir/_staging_${sub}_${java.util.UUID.randomUUID.toString.take(8)}"
    df.coalesce(1).write.mode("overwrite").parquet(staging) // deletion-sized
    val stRoot = new org.apache.hadoop.fs.Path(staging)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(stRoot, false)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val pubRel = s"_dv/$sub-${f.getPath.getName}"
        val dst = new org.apache.hadoop.fs.Path(s"$dir/$pubRel")
        fs.mkdirs(dst.getParent)
        require(fs.rename(f.getPath, dst), s"dv publish rename failed")
        out += pubRel
      }
    }
    fs.delete(stRoot, true)
    out.toSeq.sorted
  }

  /** up20 — MERGE-ON-READ point delete (Delta deletion vectors /
    * Iceberg position deletes): rows matching `pred` are deleted by
    * writing a (file, key) SIDECAR against the immutable data files —
    * the commit touches NO data file, so a point delete costs O(deleted
    * rows) instead of rewriting every day it grazes (the 1000× write
    * amplification COW pays for scattered deletes at 100 TB). Readers
    * apply live DVs via [[ttApplyDv]]; [[ttDvCompact]] materializes
    * them later (up11's OPTIMIZE discipline). The doomed list is
    * computed from the DV-APPLIED head, so re-deleting an
    * already-deleted row is impossible and the job is idempotent in
    * effect.
    */
  private[graft] def ttDvDelete(s: SparkSession, log: TtLog.Listing,
      sub: String, pred: org.apache.spark.sql.Column,
      dayScope: Option[Set[String]] = None): Unit = {
    val dir = log.table
    // tag the file BEFORE applying live DVs: input_file_name is a
    // single-source expression, and on an already-DV-bearing store the
    // DV-applied snapshot is a JOIN — tagging its output would throw
    // MULTI_SOURCES_UNSUPPORTED (hit by a repeat DELETE on one store)
    //
    // candidate files come through the checkpoint RELATION (r17 #1):
    // a day-scoped delete (the caller guarantees pred only matches
    // rows inside dayScope's days) lists ONLY those days' files on the
    // driver; the unscoped form still resolves in-plan
    val cand = ttWriteCandidates(s, log, log.head, dayScope)
    val (dvF, dataF) = (cand.dv, cand.data)
    require(dataF.nonEmpty, s"version ${log.head} has no live files")
    val doomed = ttApplyDv(s, dir,
        ttReadFiles(s, dir, dataF, mergeSchema = true)
          .withColumn("_pf", ttRelFile(dir)), dvF)
      .filter(pred)
      .select(col("_pf").as("file"), col("event_id"))
      .localCheckpoint(true) // pin before the commit changes the snapshot
    ttCommit(s, log, ttWriteDv(s, dir, sub, doomed), Nil, meta = Seq("op=delete"))
  }

  /** up21 — MERGE-ON-READ UPDATE (Delta's DV-based UPDATE): ONE commit
    * adds a deletion vector over the matched rows' OLD images and a new
    * batch carrying their UPDATED images — write cost ∝ matched rows,
    * no day rewrite, old files untouched (spec-pinned). An update that
    * moves a row's partition value (SET day = ...) works for free: the
    * DV retires the old image wherever it lives, the new image lands
    * under its new day. The CDF sees exactly delete-of-old +
    * insert-of-new through the existing DV-aware diff.
    */
  private[graft] def ttDvUpdate(s: SparkSession, log: TtLog.Listing,
      sub: String, pred: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      dayScope: Option[Set[String]] = None): Unit = {
    val dir = log.table
    // tag the file BEFORE applying live DVs (single-source expression —
    // see ttDvDelete) and BEFORE checkpointing (input_file_name is a
    // scan-time property and dies with the localCheckpoint's lineage cut)
    //
    // candidate files through the checkpoint RELATION (r17 #1): an
    // UPDATE scoped to one day (caller guarantees pred ⊆ dayScope's
    // days) never materializes the other days' file list on the driver
    val cand = ttWriteCandidates(s, log, log.head, dayScope)
    val (dvF, dataF) = (cand.dv, cand.data)
    require(dataF.nonEmpty, s"version ${log.head} has no live files")
    val tagged = ttApplyDv(s, dir,
        ttReadFiles(s, dir, dataF, mergeSchema = true)
          .withColumn("_pf", ttRelFile(dir)), dvF)
      .filter(pred)
      .localCheckpoint(true)
    val dvRows = tagged.select(col("_pf").as("file"), col("event_id"))
    val old = tagged.drop("_pf")
    // SQL UPDATE semantics: every SET RHS evaluates against the
    // PRE-update row — ONE select computes all assignments (a
    // sequential withColumn fold would let `SET a = b, b = a` read the
    // NEW b, silently diverging from the standard). The batch projects
    // the snapshot's ACTUAL schema, so evolved columns (up17's
    // ingest_gen) ride through an update instead of being dropped.
    val setMap = set.toMap
    require(set.map(_._1).forall(old.columns.contains),
      s"UPDATE sets unknown column(s): ${set.map(_._1).filterNot(old.columns.contains).mkString(", ")}")
    val updated = old.select(old.columns.map(c =>
      setMap.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    val adds = ttWriteBatch(s, dir, sub, updated.repartition(col("day"))) ++
      ttWriteDv(s, dir, s"$sub-dv", dvRows)
    ttCommit(s, log, adds, Nil, meta = Seq("op=update"))
  }

  /** Materialize all live DVs: rewrite each DV-bearing data file minus
    * its deleted rows, retire the old files AND the DV sidecars in ONE
    * commit — logically a no-op (the CDF between the two versions is
    * empty, spec-pinned), physically the read-amplification payback.
    * Cost ∝ DV-bearing files, never the table.
    */
  private[graft] def ttDvCompact(s: SparkSession, log: TtLog.Listing,
      sub: String): Unit = {
    val dir = log.table
    // two relation-scoped resolutions (r17 #1), never the full file
    // list: (1) the DV sidecars alone (dataFileFilter=Nil zeroes the
    // data side in-plan); (2) liveness of exactly the dv-REFERENCED
    // files, the referenced list pushed in-plan — inert entries (dead
    // files) drop because the relation only returns live ones
    val dvF = ttWriteCandidates(s, log, log.head, dataFileFilter = Some(Nil)).dv
    require(dvF.nonEmpty, "no deletion vectors to compact")
    val dv = s.read.parquet(dvF.map(f => s"$dir/$f"): _*)
    val referenced = dv.select("file").distinct().collect()
      .map(_.getString(0)).toSeq
    val bearing =
      ttWriteCandidates(s, log, log.head, dataFileFilter = Some(referenced)).data
    val rewritten = ttApplyDv(s, dir, ttReadFiles(s, dir, bearing), dvF)
      .localCheckpoint(true)
    ttCommit(s, log, ttWriteBatch(s, dir, sub, rewritten.repartition(col("day"))),
      (bearing ++ dvF).sorted, meta = Seq("op=optimize"))
  }

  /** The DV-delete + compaction suffix over an existing 4-version store. */
  private[graft] def ttBuildDvSuffix(s: SparkSession, dir: String): Unit = {
    ttDvDelete(s, TtLog.list(s, dir), "dv4", pmod(col("event_id"), lit(23)) === 0)
    ttDvCompact(s, TtLog.list(s, dir), "b5c")
  }

  /** The declared up21 query: the merge-on-read UPDATE (+77 cents on
    * every purchase — scattered across all days, COW's worst case)
    * applied as v4 on the 4-version store; the rollup is answered at
    * BOTH v3 (pre-update, must be untouched) and v4 (updated images in
    * force), so the hash proves the one-commit DV+batch update AND
    * snapshot isolation around it.
    */
  def morUpdateRollup(s: SparkSession, d: String): DataFrame = {
    // memoized base store; the UPDATE verb commits (timed) a new head
    // every call, and the declared reads are pinned at v3/v4 — the first
    // run's pre/post pair — so later runs' extra commits never surface
    val dir = ttDerivedScenario(s, d, "graft_up21_store",
      () => ttBaseScenario(s, d))(_ => ())
    val log = TtLog.list(s, dir)
    ttDvUpdate(s, log, s"u${log.next}", col("event_type") === "purchase",
      Seq("cents" -> (col("cents") + lit(77L))))
    (3 to 4).map { vv =>
      ttAsOf(s, dir, vv).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(vv.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** The declared up20 query: the per-event_type rollup at v4 (DVs
    * applied at read) AND v5 (DVs materialized) — the oracle computes
    * ONE post-delete state and expects it twice, so the hash proves
    * merge-on-read ≡ its compaction. Byte-identity of undeleted data
    * files across the DV commit and the empty CDF across compaction
    * are spec-pinned.
    */
  def dvDeleteRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up20_store",
      () => ttBaseScenario(s, d))(dd => ttBuildDvSuffix(s, dd))
    (4 to 5).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** Snapshot read of the tt store as a DIR-ROOTED relation (st29):
    * unlike [[ttAsOf]]'s explicit-file-list read, the relation's root
    * path IS the store dir — [[graft.sources.TtSnapshotFileIndex]]
    * serves the live set from under it — so path-keyed machinery (the
    * MV-rewrite registry) can address the versioned table the way it
    * addresses a plain dir. DV-bearing snapshots are refused: the
    * relation form can't apply deletion vectors (use ttAsOf).
    */
  private[graft] def ttHeadRelation(s: SparkSession, dir: String,
      v: Int): DataFrame = ttHeadRelationWithStats(s, dir, v, Map.empty)

  private def ttHeadRelationWithStats(s: SparkSession, dir: String, v: Int,
      stats: Map[String, Map[String, graft.sources.ManifestFileIndex.ColStat]],
      liveOverride: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // an explicit live set comes from the checkpoint-relation path
    // (ttCheckpointSurvivors), which already guarded against DV /
    // schema-op / external snapshots IN-PLAN and fell back otherwise —
    // re-resolving here would materialize the very driver-side set the
    // relation path exists to avoid. Option, not a Nil sentinel (r17
    // advice #2): a band that prunes EVERY survivor is Some(Nil) and
    // short-circuits to an EMPTY relation below — the old sentinel fell
    // into the full re-resolution the relation path exists to avoid.
    if (liveOverride.contains(Nil)) {
      val base = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      val fs = ttFs(s, dir)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var probe: Option[String] = None
      while (probe.isEmpty && it.hasNext) {
        val p = it.next().getPath.toUri.getPath
        val rel = p.stripPrefix(base + "/")
        if (rel.startsWith("day=") && rel.endsWith(".parquet"))
          probe = Some(rel)
      }
      // schema from ONE probed file (the relation path already guarded
      // schema-op stores out, so every generation shares it) + the day
      // partition column the partitioned write strips from footers
      val dataSchema = probe.map(f => s.read.parquet(s"$dir/$f").schema)
        .getOrElse(sys.error(s"no parquet file under $dir to probe a schema"))
      val schema = org.apache.spark.sql.types.StructType(
        dataSchema.fields :+ org.apache.spark.sql.types.StructField(
          "day", org.apache.spark.sql.types.StringType))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val live = liveOverride.getOrElse {
      val res = ttResolve(s, dir, v)
      require(res.schemaOps.isEmpty,
        "ttHeadRelation cannot serve a column-mapped snapshot (use ttAsOf)")
      require(!res.live.exists(ttIsDv),
        "ttHeadRelation cannot serve a DV-bearing snapshot")
      require(!res.live.exists(_.startsWith("/")),
        "ttHeadRelation cannot serve clone-inherited external files")
      res.live
    }
    require(live.nonEmpty, s"version $v has no live files")
    withConf(s)(noPartitionInference) {
      val idx = new graft.sources.TtSnapshotFileIndex(s,
        new org.apache.hadoop.fs.Path(dir), live.toSet, stats)
      val full = ttReadFiles(s, dir, live).schema
      val partitionSchema = idx.partitionSpec().partitionColumns
      val dataSchema = org.apache.spark.sql.types.StructType(
        full.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
      val rel = HadoopFsRelation(idx, partitionSchema = partitionSchema,
        dataSchema = dataSchema, bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty[String, String])(s)
      s.baseRelationToDataFrame(rel)
    }
  }

  /** The live set at `asOf` as a RELATION (r16 verdict #7): the newest
    * checkpoint ≤ asOf scanned in-plan, minus every file the suffix
    * commits touched, plus the suffix's net adds with their commit-time
    * stats — the suffix comes from [[graft.sources.TtLog]]'s one fold.
    * Callers prune the relation in-plan and collect only what survives,
    * never the full live set (the shape a 1000-executor cluster reads;
    * Delta resolves exactly this way). None — go through [[ttResolve]] —
    * when no checkpoint covers asOf, when the snapshot is schema-mapped,
    * and, unless `servesDv`, when it holds DV sidecars or clone-inherited
    * external files. One aggregate over the manifest answers both
    * checkpoint-level guards. Also returns the log files opened through
    * `log`: the checkpoint and the suffix commits, never O(log).
    */
  private def ttCheckpointRelation(s: SparkSession, log: TtLog.Listing, asOf: Int,
      servesDv: Boolean): Option[(DataFrame, Int)] = {
    val cv = log.checkpointAt(asOf).getOrElse(return None)
    val sfx = log.suffix(cv, asOf)
    def dvOrExternal(f: String) = ttIsDv(f) || f.startsWith("/")
    // a stat-less data add dies LOUDLY (r17 advice #1): a silently-dropped
    // add would be silently-missing rows
    if (!servesDv) sfx.unstatted.find(!dvOrExternal(_)).foreach(f =>
      sys.error(s"live file $f carries no commit-time stats"))
    if (sfx.schemaMapped || (!servesDv && sfx.added.exists(dvOrExternal))) return None
    val ckpt = log.checkpointFrame(cv)
    val g = ckpt.agg(max(when(TtLog.schemaRow, 1).otherwise(0)),
      max(when(col("file").startsWith("_dv/") || col("file").startsWith("/"), 1)
        .otherwise(0))).head
    def flag(i: Int) = !g.isNullAt(i) && g.getInt(i) == 1
    if (flag(0) || (!servesDv && flag(1))) return None
    var rel = ckpt.filter(!TtLog.metaRow)
    if (sfx.touched.nonEmpty) rel = rel.filter(!col("file").isInCollection(sfx.touched))
    if (sfx.adds.nonEmpty) rel = rel.unionByName(
      s.createDataFrame(TtLog.fileRows(sfx.adds), TtLog.checkpointSchema))
    Some((rel, log.opened))
  }

  /** The live data files at `asOf` with their stats, through
    * [[ttCheckpointRelation]]; an optional skip-key BAND prunes in-plan on
    * the (lo, hi) columns, so the driver collects only the survivors. None
    * where the relation is None; callers then resolve through
    * [[ttResolve]]. Returns the log files opened alongside.
    */
  private[graft] def ttCheckpointSurvivors(s: SparkSession, log: TtLog.Listing,
      asOf: Int, band: Option[(Long, Long)])
      : Option[(Seq[(String, TtStat)], Int)] =
    ttCheckpointRelation(s, log, asOf, servesDv = false).map { case (rel, opened) =>
      // a stat-less row (null lo/hi) cannot be pruned — it survives the
      // band and dies loudly below, exactly the driver path's contract
      val pruned = band.fold(rel) { case (lo, hi) =>
        rel.filter(col("lo").isNull || (col("hi") >= lo && col("lo") <= hi))
      }
      val survivors = pruned.collect().map { r =>
        require(!r.isNullAt(1),
          s"live file ${r.getString(0)} carries no commit-time stats")
        (r.getString(0), TtStat(r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toSeq.sortBy(_._1)
      (survivors, opened)
    }

  /** WRITE-PATH candidate resolution (r17 verdict #1): the live DV
    * sidecars and the live data files in the verb's scope — a day set
    * (partition-scoped UPDATE/OPTIMIZE) or an explicit candidate list (DV
    * compaction's dv-referenced files) — through [[ttCheckpointRelation]]
    * with the scope pushed in-plan and one collect, so the driver sees
    * candidate names only, never the table's file list. DV-bearing and
    * clone-inherited live sets are served; a schema-mapped or
    * pre-checkpoint snapshot falls back to [[ttResolve]] over the same
    * listing.
    */
  private[graft] final case class TtWriteCandidates(dv: Seq[String],
      data: Seq[String], opened: Int, viaRelation: Boolean)

  private[graft] def ttWriteCandidates(s: SparkSession, log: TtLog.Listing,
      asOf: Int, dayScope: Option[Set[String]] = None,
      dataFileFilter: Option[Seq[String]] = None): TtWriteCandidates =
    ttCheckpointRelation(s, log, asOf, servesDv = true) match {
      case Some((rel, opened)) =>
        val isDv = col("file").startsWith("_dv/")
        val inDays = dayScope.fold(lit(true))(ds => ds.toSeq.sorted.map(day =>
            col("file").startsWith(s"day=$day/") || col("file").contains(s"/day=$day/"))
          .reduceOption(_ || _).getOrElse(lit(false)))
        val inFiles = dataFileFilter.fold(lit(true))(ff =>
          if (ff.isEmpty) lit(false) else col("file").isInCollection(ff))
        val (dvF, dataF) = rel.filter(isDv || (inDays && inFiles)).select("file")
          .collect().map(_.getString(0)).toSeq.sorted.partition(ttIsDv)
        TtWriteCandidates(dvF, dataF, opened, viaRelation = true)
      case None =>
        val r = ttResolve(log, asOf)
        val (dvF, dataF) = r.live.partition(ttIsDv)
        TtWriteCandidates(dvF, dataF.filter(f =>
          dayScope.forall(_.exists(day =>
            f.startsWith(s"day=$day/") || f.contains(s"/day=$day/"))) &&
            dataFileFilter.forall(_.contains(f))), r.opened, viaRelation = false)
    }

  /** src32 — DATA SKIPPING on tt snapshot reads: the snapshot relation
    * carries per-live-file key min/max and the FileIndex intersects
    * them with the PUSHED predicates inside `listFiles` — Delta data
    * skipping over the versioned store, composing the manifest tier
    * (src23/src27's pruning pass) with the tt snapshot index. The
    * stats come FROM THE LOG (recorded at commit into `# stat=`
    * lines and folded into the parquet checkpoint — Delta's stats
    * JSON): resolution metadata, zero data scan (a stat-less file dies
    * loudly rather than silently un-prunable). When a checkpoint covers
    * the snapshot, the live set is resolved THROUGH THE CHECKPOINT
    * RELATION ([[ttCheckpointSurvivors]]) — and a known skip-key `band`
    * prunes in-plan there, so the FileIndex is built from survivors
    * only and the driver never materializes the full live set. One
    * listing of `_log` serves both paths.
    */
  private[graft] def ttSkippingRelation(s: SparkSession, dir: String,
      v: Int, band: Option[(Long, Long)] = None): DataFrame = {
    val log = TtLog.list(s, dir)
    val entries: Seq[(String, TtStat)] =
      ttCheckpointSurvivors(s, log, v, band).map(_._1).getOrElse {
        // pre-checkpoint store: the bounded driver replay
        val r = ttResolve(log, v)
        require(r.live.nonEmpty, s"version $v has no live files")
        r.live.filterNot(ttIsDv).map { f =>
          f -> r.stats.getOrElse(f,
            sys.error(s"live file $f carries no commit-time stats"))
        }
      }
    val base = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val idxStats = entries.map { case (f, st) =>
      s"$base/$f" ->
        Map[String, graft.sources.ManifestFileIndex.ColStat]("event_id" ->
          graft.sources.ManifestFileIndex.ColRange(st.lo, st.hi))
    }.toMap
    ttHeadRelationWithStats(s, dir, v, idxStats, Some(entries.map(_._1)))
  }

  /** The declared src32 query: the appended-id band (`event_id ≥ 1e9`,
    * exactly the v1-append key space) over the v3 snapshot — every
    * base-batch file's [min,max] lies below the bound, so the plan
    * scans ONLY the append/COW files (numFiles pinned to the manifest's
    * survivor count in the spec); fully oracled against the recomputed
    * v3 state.
    */
  def ttSkippingQuery(s: SparkSession, d: String): DataFrame = {
    val dir = ttBaseScenario(s, d)
    // the band is also handed to the relation builder: when a checkpoint
    // covers v3 it prunes IN-PLAN over the manifest; here (v3 predates
    // the first checkpoint) the driver fallback serves, and the pushed
    // filter + FileIndex stats intersection still prune the scan
    ttSkippingRelation(s, dir, 3, Some((1000000000L, Long.MaxValue)))
      .filter(col("event_id") >= 1000000000L)
      .groupBy(to_date(col("day")).as("day"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("day")
  }

  /** JVM-lifetime memo of FINISHED scenario stores, one dir per
    * (prefix, dataset): declared lake queries stage their
    * multi-commit store construction here, so Bench's staged pass
    * (QueryDef.staged) carries the build cost and the timed line reads
    * verb/snapshot cost — the v-family staging discipline applied to
    * the lake tier (r14 verdict next #5). Contract: the builder leaves
    * a COMPLETE read-only scenario under its own dir; a query over a
    * memoized store either reads pinned versions or applies verbs at
    * a new head whose pinned-version reads are run-invariant (each query's
    * scaladoc states which). Specs keep using the rebuild-always
    * builders (ttStore & co.) on their own dirs, so spec mutations
    * never collide with memoized query state.
    */
  private[graft] def ttScenario(s: SparkSession, d: String, prefix: String)(
      build: String => Unit): String =
    Staged.dir(s, prefix, d) {
      val dir = Tables.scratchDir(prefix, d)
      ttFs(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
      build(dir)
      dir
    }

  /** Memoized DERIVED scenario: clone a finished template store's tree
    * (one local file copy — the log's data paths are RELATIVE, so the
    * copy is a fully independent table; a parquet checkpoint rides
    * along and re-keys its memo by the new path) and apply the
    * scenario suffix. Store construction is thus paid ONCE per dataset
    * per JVM (the template build) instead of once per scenario — at
    * sf0.1 that is the difference between ~8 s and ~0.3 s of staging
    * per derived lake scenario.
    */
  private[graft] def ttDerivedScenario(s: SparkSession, d: String,
      prefix: String, template: () => String)(
      suffix: String => Unit): String =
    ttScenario(s, d, prefix) { dir =>
      val src = template()
      val fs = ttFs(s, dir)
      require(org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(src), fs,
        new org.apache.hadoop.fs.Path(dir),
        false, true, s.sparkContext.hadoopConfiguration),
        s"template clone $src -> $dir failed")
      suffix(dir)
    }

  /** Lost claims a tt commit survives before [[ttOcc]] gives up: a writer
    * that loses this many straight races has contention worth failing on.
    */
  private[graft] val ttOccAttempts = 20

  /** The one optimistic-concurrency loop of the tt lake's writers: what a
    * writer does when another commit lands first. `attempt` commits at
    * `log.next` of the listing it is handed, either re-deriving from
    * that listing (merge, update, delete: a verb that READ the snapshot
    * must not publish a stale rewrite) or re-committing what it staged
    * once (an append's files are immutable and position-independent until
    * the log references them). The first attempt runs on the caller's own
    * listing, so a writer that staged from it adds no listing; a lost
    * claim — the only `FileAlreadyExistsException`, see
    * [[graft.engine.Publish.claim]] — lists `_log` once and runs the
    * attempt again. After [[ttOccAttempts]] lost claims it fails naming the
    * dir; any other exception propagates.
    */
  private[graft] def ttOcc[T](first: TtLog.Listing)(attempt: TtLog.Listing => T): T = {
    @annotation.tailrec
    def go(log: TtLog.Listing, n: Int): T =
      (try Right(attempt(log))
      catch { case e: org.apache.hadoop.fs.FileAlreadyExistsException => Left(e) }) match {
        case Right(t) => t
        case Left(e) if n == ttOccAttempts => throw new IllegalStateException(
          s"tt commit lost $n straight claim races under ${log.table}", e)
        case Left(_) => go(log.relist, n + 1)
      }
    go(first, 1)
  }

  /** up25 — OPTIMIZE (Delta's OPTIMIZE / Iceberg's rewrite_data_files):
    * bin-packing compaction of a snapshot's fragmented days — every day
    * directory holding ≥ `minFilesPerDay` live files is rewritten into
    * one file, as ONE metadata-swap commit (`op=optimize`). Logically a
    * no-op: the CDF across it is empty (every packed row cancels in the
    * bag difference) and any rollup answers identically pre/post —
    * that is the declared query's hash proof. Physically it is the
    * read-amplification payback for streaming ingest: st31-style
    * one-commit-per-micro-batch appends (and up19's per-slice commits)
    * leave O(commits × days) small files, and at production commit
    * rates unbounded file counts — not data volume — are what kill scan
    * planning. Days already at one file are untouched (byte-identity
    * spec-pinned); clone-inherited externals are left alone (packing
    * them would copy another table's bytes into ours). Cost ∝ packed
    * files, never the table. DV-bearing snapshots must ttDvCompact
    * first — the two rewrites compose in either order but each owns
    * its own commit. Returns whether anything was packed.
    */
  private[graft] def ttOptimize(s: SparkSession, log: TtLog.Listing,
      sub: String, minFilesPerDay: Int = 2,
      onlyDays: Option[Set[String]] = None): Boolean = {
    val dir = log.table
    // up31 — PARTITION-SCOPED compaction (Delta's `OPTIMIZE ... WHERE`):
    // at 100 TB nobody optimizes the whole table — the hot tail (the
    // days streaming ingest just fragmented) is compacted on a schedule
    // while the cold majority is never read or rewritten. `onlyDays`
    // restricts the candidate set BEFORE any file is read — pushed
    // IN-PLAN over the checkpoint relation (r17 #1), so a one-day
    // OPTIMIZE never lists the other days' files on the driver — and
    // cost is ∝ the selected days' fragmentation, provably zero
    // elsewhere (untouched days keep byte-identical files, spec-pinned).
    val cand = ttWriteCandidates(s, log, log.head, dayScope = onlyDays)
    require(cand.dv.isEmpty,
      "OPTIMIZE on a DV-bearing snapshot — materialize (ttDvCompact) first")
    val packed = cand.data.filter(_.startsWith("day="))
      .groupBy(f => f.take(f.indexOf('/')))
      .filter { case (_, fs) => fs.size >= minFilesPerDay }
      .values.flatten.toSeq.sorted
    if (packed.isEmpty) return false
    // one file per packed day: repartition(day) puts each day in exactly
    // one task, partitionBy(day) then writes a single file for it
    val rows = ttReadFiles(s, dir, packed, mergeSchema = true)
      .localCheckpoint(true)
    ttCommit(s, log, ttWriteBatch(s, dir, sub, rows.repartition(col("day"))),
      packed, meta = Seq("op=optimize"))
    true
  }

  /** up28 — OPTIMIZE with CLUSTERING (Delta's `OPTIMIZE ... ZORDER BY`,
    * Iceberg's sort-order rewrite): rewrite every day's live files
    * RANGE-CLUSTERED on the key, `filesPerDay` files per day with
    * DISJOINT key ranges — so the commit-time min/max stats (src32's
    * skipping inputs) actually prune. Bin-packing (ttOptimize) fixes
    * the file-COUNT problem; clustering fixes the file-CONTENT problem:
    * a day written in arrival order has every file spanning the whole
    * key range, and min/max stats prune NOTHING on a key-band query —
    * compaction's main job at scale is making the layout match the
    * stats. Same commit discipline as up25: one metadata-swap commit
    * (`op=optimize`), logical no-op (any rollup answers identically
    * pre/post — the declared query's hash proof), cost ∝ rewritten
    * files. `repartitionByRange(day, key)` gives each task a contiguous
    * (day, key) slab, so per-day outputs carry disjoint key ranges;
    * `sortWithinPartitions` additionally orders rows inside each file
    * (tighter parquet row-group stats for free). Z-order proper — TWO
    * keys — is the Morton interleave (src22/src12's `mortonSpread`)
    * over each key's 16-bit linear scaling, so every output file covers
    * a small RECTANGLE of the two key spaces and min/max stats prune on
    * BOTH dimensions at once; over ONE skip key the space-filling curve
    * degenerates to exactly the range sort. The scaling bounds are four
    * aggregate scalars over the rewrite set — data the rewrite reads
    * anyway, never an extra table scan.
    */
  private[graft] def ttOptimizeClustered(s: SparkSession, log: TtLog.Listing,
      sub: String, keys: Seq[String] = Seq("event_id"),
      filesPerDay: Int = 4, onlyDays: Option[Set[String]] = None): Boolean = {
    val dir = log.table
    require(keys.nonEmpty && keys.size <= 8,
      s"ZORDER BY takes 1-8 columns, got ${keys.size}")
    // candidate files through the checkpoint relation, day scope
    // in-plan (r17 #1) — see ttOptimize
    val cand = ttWriteCandidates(s, log, log.head, dayScope = onlyDays)
    require(cand.dv.isEmpty,
      "OPTIMIZE on a DV-bearing snapshot — materialize (ttDvCompact) first")
    val packed = cand.data.filter(_.startsWith("day="))
    if (packed.isEmpty) return false
    val days = packed.map(f => f.take(f.indexOf('/'))).distinct.size
    val rows = ttReadFiles(s, dir, packed, mergeSchema = true)
      .localCheckpoint(true)
    val cluster: org.apache.spark.sql.Column = keys match {
      case Seq(k) => col(k)
      case Seq(a, b) =>
        // the proven two-key fast path: magic-mask bit spreading (4
        // fold steps per key); bit placement — a's bit i at 2i, b's at
        // 2i+1 — is EXACTLY the k=2 instance of the general case below
        val bounds = rows.agg(min(a), max(a), min(b), max(b)).head()
        def bound(i: Int): Long = bounds.getAs[Number](i).longValue
        def scaled(k: String, lo: Long, hi: Long) =
          ((col(k).cast("long") - lit(lo)) * lit(65535L) /
            lit(math.max(1L, hi - lo))).cast("long")
        graft.sources.Sources.mortonSpread(scaled(a, bound(0), bound(1)))
          .bitwiseOR(shiftleft(graft.sources.Sources.mortonSpread(
            scaled(b, bound(2), bound(3))), 1))
      case ks =>
        // r17 verdict #4 — N-KEY Z-ORDER (Delta accepts any ZORDER BY
        // list): each key linearly scaled to `bits` = min(16, 62/k)
        // bits (k=3 keeps the full 16 → a 48-bit curve; k=4 → 15 bits;
        // the sign bit is never touched), then the general Morton
        // interleave — key j's bit i lands at curve position i·k + j —
        // so every output file covers a small HYPERRECTANGLE of the k
        // key spaces and min/max stats prune on EVERY dimension at
        // once. Scaling bounds are 2k aggregate scalars over the
        // rewrite set — data the rewrite reads anyway.
        val k = ks.size
        val bits = math.min(16, 62 / k)
        val aggs = ks.flatMap(c => Seq(min(c), max(c)))
        val bounds = rows.agg(aggs.head, aggs.tail: _*).head()
        def bound(i: Int): Long = bounds.getAs[Number](i).longValue
        ks.zipWithIndex.map { case (kc, j) =>
          val lo = bound(2 * j); val hi = bound(2 * j + 1)
          val sc = ((col(kc).cast("long") - lit(lo)) *
            lit((1L << bits) - 1) / lit(math.max(1L, hi - lo))).cast("long")
          (0 until bits).map(i =>
            shiftleft(shiftright(sc, i).bitwiseAND(lit(1L)), i * k + j))
            .reduce(_.bitwiseOR(_))
        }.reduce(_.bitwiseOR(_))
    }
    ttCommit(s, log,
      ttWriteBatch(s, dir, sub,
        rows.withColumn("_zc", cluster)
          .repartitionByRange(days * filesPerDay, col("day"), col("_zc"))
          .sortWithinPartitions(col("day"), col("_zc"))
          .drop("_zc")),
      packed, meta = Seq("op=optimize"))
    true
  }

  /** The declared up28 query: the 4-version store CLUSTER-optimized at
    * v4, answering a key-band rollup at BOTH v3 (pre, plain snapshot)
    * and v4 (post, through the stats-driven skipping relation) — the
    * hash proves clustering is a logical no-op; the spec pins the
    * physical win (the v4 band scan reads a fraction of the files the
    * v3 layout forces, because pre-clustering every base file spans the
    * whole key range). The band cap is data-derived (max base id / 4),
    * so the oracle recomputes it exactly.
    */
  def zorderOptimizeRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up28_store",
      () => ttBaseScenario(s, d))(dd =>
      require(ttOptimizeClustered(s, TtLog.list(s, dd), "z4", Seq("event_id"), 4),
        "up28 fixture had nothing to rewrite"))
    val cap = events(s, d).agg(max("event_id")).head.getLong(0) / 4
    // v4 is checkpoint-covered: the band prunes in-plan over the ckpt
    // RELATION, so the snapshot index is built from surviving files only
    Seq(3 -> ttAsOf(s, dir, 3),
        4 -> ttSkippingRelation(s, dir, 4, Some((Long.MinValue, cap))))
      .map { case (v, df) =>
        df.filter(col("event_id") <= cap)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v.toLong).as("version"), col("event_type"),
            col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** The declared up31 query: PARTITION-SCOPED OPTIMIZE (Delta's
    * `OPTIMIZE ... WHERE`) — the many-commit store's FIRST day
    * compacted at v10 while every other day keeps its ten fragments.
    * At 100 TB this is how compaction actually runs: the hot tail
    * (days streaming ingest just fragmented) compacts on a schedule,
    * the cold majority is never read or rewritten — cost ∝ selected
    * days, zero elsewhere. The timed rollup groups the v10 head per
    * (day, type), fully oracled from raw events, so the hash proves
    * the scoped rewrite moved bytes on one day and rows nowhere; the
    * spec pins the physical claim (target day → one file, other days
    * keep their ten byte-identical fragments, scoped re-run = no-op).
    */
  def optimizeWhereRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up31_store",
      () => ttManyScenario(s, d)) { dd =>
      val day0 = events(s, d)
        .agg(date_format(min(to_date(col("ts"))), "yyyy-MM-dd"))
        .head.getString(0)
      require(ttOptimize(s, TtLog.list(s, dd), "w10", 2, Some(Set(day0))),
        "up31 fixture had nothing to pack on the target day")
    }
    ttAsOf(s, dir, 10)
      .groupBy(to_date(col("day")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("day", "event_type")
  }

  /** src35 — the SQL INSERT INTO verb: one plain append commit
    * (`op=insert`), committed through [[ttOcc]]. The most
    * common lakehouse write finally has its SQL spelling — routed here
    * by [[graft.sources.TtTable]]'s V1 write bridge (DSv2
    * `SupportsWrite` → `InsertableRelation`), the same fallback shape
    * the catalog's read side uses. INSERT OVERWRITE is refused loudly
    * (truncating a versioned table is up22's restore or a COW delete,
    * not a blind overwrite).
    */
  private[graft] def ttSqlInsert(s: SparkSession, dir: String,
      data: DataFrame): Unit = {
    val first = TtLog.list(s, dir)
    // CHECK constraints (src42) are enforced in the shared commit path
    // (ttEnforceConstraints) — every write verb validates, not just
    // this one, and a rebased OCC retry re-validates at its real target
    // the analyzer already aligned `data` to the LOGICAL head schema
    // (order, arity, types); unwind column mapping so the batch lands
    // under physical names (src36) and write it whole — per-snapshot
    // mergeSchema reconciliation owns any generation differences
    val rows = ttToPhysical(first, data)
    require(rows.columns.contains("day"), "insert batch lost the day column")
    val adds = ttWriteBatch(s, dir, s"i${first.next}", rows.repartition(col("day")))
    ttOcc(first)(log => ttCommit(s, log, adds, Nil, Seq("op=insert")))
  }

  // ---- src42: CHECK constraints (Delta's ADD CONSTRAINT) ----

  /** Ops whose data adds re-reference rows a prior enforced commit
    * already validated: compaction/clustering rewrites (the rows are
    * copies), restore re-adds (validated under the constraint state the
    * restore itself re-declares), convert/clone adoption (v0 — no
    * constraint can predate the table). Everything else that adds data
    * rows validates; a NEW verb is therefore enforced by default.
    */
  private val ttConstraintExemptOps =
    Set("optimize", "restore", "convert", "clone")

  /** Enforce every active CHECK constraint against a commit's staged
    * data adds — called from [[ttCommit]], so EVERY write path (SQL
    * INSERT, UPDATE's rewrite batch, MERGE's output, the streaming
    * idempotent append, CDC apply, CTAS) validates before its version
    * publishes: Delta enforces invariants on every write, and a
    * constraint the user can watch INSERT enforce but UPDATE silently
    * violate certifies data that is not clean. The staged batch reads
    * back under PHYSICAL names, so the snapshot's column mapping is
    * applied first — expressions evaluate over the user's logical view.
    * A batch that lacks a referenced column reads as NULL under
    * mergeSchema reconciliation, and CHECK over NULL is not-violated
    * (SQL three-valued logic) — the padded columns reproduce exactly
    * that. On violation the staged files are deleted (they are
    * referenced by no version) and the commit is refused loudly with
    * the per-constraint row count. Cost: one snapshot of `log`'s head per
    * enforced commit (checkpoint-memoized, no listing), plus — only when
    * constraints are active — one scan of the NEW batch per
    * constraint, ∝ the commit's churn, never the table.
    */
  private def ttEnforceConstraints(s: SparkSession, log: TtLog.Listing,
      adds: Seq[String], meta: Seq[String]): Unit = {
    if (log.head < 0) return // v0 creates the store — no constraint can exist yet
    val dataAdds = adds.filterNot(ttIsDv)
    if (dataAdds.isEmpty) return
    val op = meta.collectFirst {
      case m if m.startsWith("op=") => m.stripPrefix("op=")
    }.getOrElse("")
    if (ttConstraintExemptOps(op)) return
    val snap = log.snapshot(log.head)
    if (snap.constraints.isEmpty) return
    val dir = log.table
    val batch = ttApplyMapping(snap.schemaOps,
      ttReadFiles(s, dir, dataAdds, mergeSchema = true))
    snap.constraints.toSeq.sortBy(_._1).foreach { case (name, exprStr) =>
      val refs = s.sessionState.sqlParser.parseExpression(exprStr).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
      val padded = refs.distinct.filterNot(batch.columns.contains)
        .foldLeft(batch)((b, c) => b.withColumn(c, lit(null)))
      val bad = padded.filter(!expr(exprStr)).count()
      if (bad > 0L) {
        // refuse with NOTHING COMMITTED: the staged files are not
        // referenced by any version — reap them now instead of leaving
        // garbage for vacuum (exempt ops are the only re-adders, so
        // everything here was staged by this very verb)
        val fs = ttFs(s, dir)
        adds.filterNot(_.startsWith("/")).foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$f"), false))
        throw new IllegalArgumentException(
          s"requirement failed: CHECK constraint $name ($exprStr) " +
            s"violated by $bad row(s) — nothing committed")
      }
    }
  }

  /** src42 — ADD CONSTRAINT as ONE metadata commit, after proving the
    * CURRENT head already satisfies it (Delta refuses constraints the
    * existing data violates — otherwise reads would be "constrained"
    * while the table is not). The expression is any boolean SQL over
    * the table's logical columns; enforcement happens on the SQL write
    * path ([[ttSqlInsert]]) from then on.
    */
  private[graft] def ttAddConstraint(s: SparkSession, log: TtLog.Listing,
      name: String, exprStr: String): Unit = {
    require(!name.contains("|") && !exprStr.contains("\n"),
      "constraint name/expression must be single-line, name pipe-free")
    val existing = ttAsOf(s, log, log.head).filter(!expr(exprStr)).count()
    require(existing == 0L,
      s"cannot add CHECK $name ($exprStr): $existing existing row(s) violate it")
    ttCommit(s, log, Nil, Nil, meta = Seq("op=add-constraint", s"constraint=$name|$exprStr"))
  }

  /** src42 — DROP CONSTRAINT: one metadata commit; unknown names are
    * refused (a silently-ignored drop would leave the caller believing
    * enforcement ended).
    */
  private[graft] def ttDropConstraint(s: SparkSession, log: TtLog.Listing,
      name: String): Unit = {
    require(ttResolve(log, log.head).constraints.contains(name),
      s"no CHECK constraint named $name")
    ttCommit(s, log, Nil, Nil, meta = Seq("op=drop-constraint", s"dropconstraint=$name"))
  }

  /** up30 — CONVERT a plain day-partitioned parquet directory into a tt
    * table IN PLACE (Delta's `CONVERT TO DELTA`): one v0 commit whose
    * adds are the EXISTING data files — zero bytes copied or moved, the
    * directory becomes a versioned table where it stands. This is how a
    * real estate of plain parquet adopts the format at 100 TB: the only
    * cost is the one-time stats scan (`# stat=` lines per file, the
    * same commit-time discipline every later append pays), after which
    * every tt verb — INSERT/MERGE/OPTIMIZE/VACUUM/AS OF — works
    * unchanged. Idempotent-hostile by design: a dir that already holds
    * a `_log` refuses to convert again.
    */
  private[graft] def ttConvert(s: SparkSession, dir: String): Int = {
    val fs = ttFs(s, dir)
    require(!fs.exists(new org.apache.hadoop.fs.Path(TtLog.dir(dir))),
      s"$dir is already a tt table")
    val base = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val adds = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      val rel = p.stripPrefix(base).stripPrefix("/")
      if (rel.endsWith(".parquet") && rel.startsWith("day=")) adds += rel
    }
    require(adds.nonEmpty, s"$dir holds no day-partitioned parquet files")
    ttCommit(s, TtLog.list(s, dir), adds.toSeq.sorted, Nil, meta = Seq("op=convert"))
    adds.size
  }

  /** The declared up30 query: write events as PLAIN day-partitioned
    * parquet, CONVERT in place, then prove the converted dir is a full
    * tt citizen — an INSERT-shaped append lands as v1, and the rollup
    * answers from the v1 snapshot (conversion state ∪ appended slice,
    * fully oracled). The staged builder owns the one-time conversion;
    * reads are pinned at v1 so the query is run-invariant.
    */
  def convertInPlaceRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttScenario(s, d, "graft_up30_store") { dd =>
      val base = events(s, d).select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      base.repartition(col("day")).write.partitionBy("day")
        .mode("overwrite").parquet(dd)
      ttConvert(s, dd)
      val late = base.filter(col("event_id") % 17 === 0)
        .withColumn("event_id", col("event_id") + lit(2000000000L))
        .withColumn("cents", col("cents") + lit(40L))
      ttCommit(s, TtLog.list(s, dd),
        ttWriteBatch(s, dd, "b1", late.repartition(col("day"))), Nil,
        meta = Seq("op=append"))
    }
    ttAsOf(s, dir, 1).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("event_type")
  }

  /** Build the 4-version store: v0 base, v1 append, v2 COW update,
    * v3 COW delete. Rebuilt per call (the scenario IS the operator;
    * declared queries instead stage a memoized copy via [[ttScenario]]).
    */
  private[graft] def ttStore(s: SparkSession, d: String): String = {
    val dir = Tables.scratchDir("graft_up13_store", d)
    ttFs(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    ttBuildStore(s, d, dir)
    dir
  }

  /** The 4-version scenario body, building into a CLEAN `dir`. */
  private[graft] def ttBuildStore(s: SparkSession, d: String,
      dir: String): Unit = {
    def writeBatch(df: DataFrame, sub: String): Seq[String] =
      ttWriteBatch(s, dir, sub, df)
    val base = events(s, d).select(col("event_id"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ttCommit(s, TtLog.list(s, dir), writeBatch(base.repartition(col("day")), "b0"), Nil,
      meta = Seq("op=write"))
    // v1: append late data — immutable files, metadata-only commit
    val late = base.filter(col("event_id") % 7 === 0)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
    ttCommit(s, TtLog.list(s, dir), writeBatch(late.repartition(col("day")), "b1"), Nil,
      meta = Seq("op=append"))
    // day probes, calendar-bounded collects
    val d0 = events(s, d).agg(date_format(
      date_add(min(to_date(col("ts"))), 3), "yyyy-MM-dd")).head.getString(0)
    val d1 = events(s, d).agg(date_format(
      date_add(min(to_date(col("ts"))), 5), "yyyy-MM-dd")).head.getString(0)
    // v2: COW update — read ONLY the touched day's live files, rewrite
    def cow(day: String, sub: String, op: String)(tf: DataFrame => DataFrame): Unit = {
      // touched-day candidates through the checkpoint relation (r17 #1);
      // this scenario's v1-v3 predate the first checkpoint, so the
      // bounded replay serves here — the path is shared regardless
      val log = TtLog.list(s, dir)
      val touched = ttWriteCandidates(s, log, log.head, Some(Set(day))).data
      val cur = withConf(s)(noPartitionInference) {
        s.read.option("basePath", dir)
          .parquet(touched.map(f => s"$dir/$f"): _*)
          .localCheckpoint(true) // materialize before the metadata swap
      }
      ttCommit(s, log, writeBatch(tf(cur), sub), touched, meta = Seq(s"op=$op"))
    }
    cow(d0, "b2", "update")(_.withColumn("cents", col("cents") + lit(9L)))
    cow(d1, "b3", "delete")(_.filter(col("event_type") =!= "click"))
  }

  // ---- up15/up16: CHANGE DATA FEED between versions ----

  /** Net file-level diff between two versions: (added, removed) relative
    * paths — `live(to) ∖ live(from)` / `live(from) ∖ live(to)`. NET by
    * construction: a file added and removed again inside the range
    * contributes nothing, exactly the row semantics a snapshot diff
    * wants. Pure log replay, O(commits) metadata.
    */
  private[graft] def ttChangedFiles(s: SparkSession, dir: String,
      from: Int, to: Int): (Seq[String], Seq[String]) = {
    val log = TtLog.list(s, dir)
    val f = ttResolve(log, from).live.toSet
    val t = ttResolve(log, to).live.toSet
    ((t -- f).toSeq.sorted, (f -- t).toSeq.sorted)
  }

  /** Snapshot-style read of an explicit file list (day recovered via
    * basePath, inference off — ttAsOf's discipline, factored for reads
    * of partial file sets). External (clone-inherited) files read
    * WITHOUT the basePath day-recovery trick, so they must be listed
    * under their own day dirs — which they are, in the source's tree.
    * Inference only matters during the eager schema resolution inside
    * the `withConf` scope, so the returned DataFrame is safe outside it.
    */
  private[graft] def ttReadFiles(s: SparkSession, dir: String,
      files: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    val ms = mergeSchema.toString
    withConf(s)(noPartitionInference) {
      val (ext, local) = files.partition(_.startsWith("/"))
      val localDf =
        if (local.isEmpty) None
        else Some(s.read.option("basePath", dir).option("mergeSchema", ms)
          .parquet(local.map(f => s"$dir/$f"): _*))
      val extDf =
        if (ext.isEmpty) None
        else {
          // externals may span source-table day dirs: recover day via
          // their own root (one read per source root keeps partition
          // discovery exact; basePath requires paths under it)
          val byRoot = ext.groupBy(f => f.take(f.lastIndexOf("/day=")))
          Some(byRoot.map { case (root, fs) =>
            s.read.option("basePath", root).option("mergeSchema", ms)
              .parquet(fs: _*)
          }.reduce(_.unionByName(_)))
        }
      (localDf, extDf) match {
        case (Some(l), Some(e)) => l.unionByName(e)
        case (Some(l), None) => l
        case (None, Some(e)) => e
        case _ => sys.error("empty file list")
      }
    }
  }

  /** up15 — CHANGE DATA FEED (Delta's `table_changes` / Iceberg's
    * incremental read): the row-level inserts and deletes between two
    * versions of the up13 log-structured store, computed WITHOUT
    * touching unchanged data — the log's net file diff names exactly
    * the files any row change lives in, and a bag-difference between
    * the added and removed files' rows cancels the rows a COW rewrite
    * merely copied (an update surfaces as delete-of-old + insert-of-new,
    * the file-granularity CDF every log-structured format without
    * per-row tracking emits). The reference has no notion of versioned
    * data at all (its jobs overwrite HDFS dirs, `ALS/ALS.java:312-327`).
    *
    * At 100 TB this is THE incremental-consumer primitive: downstream
    * pipelines tail row-level deltas at churn cost — `ttChanges` plans
    * over only the net-changed files (`df.inputFiles`-pinned in the
    * spec), so a one-day COW update on a 3-year table costs one day,
    * never a snapshot diff of two full table scans. It also closes
    * cat7's delete gap (up16): a plain parquet dir physically LOSES a
    * removed file's bytes, so cat7's manifest diff must full-re-stage
    * on any delete; the up13 log retains superseded files, and the CDF
    * turns a delete into subtractable partials.
    */
  private[graft] def ttChanges(s: SparkSession, dir: String,
      from: Int, to: Int): DataFrame = {
    val log = TtLog.list(s, dir)
    val (dvFromF, dataFromF) = ttResolve(log, from).live.partition(ttIsDv)
    val (dvToF, dataToF) = ttResolve(log, to).live.partition(ttIsDv)
    val fromSet = dataFromF.toSet
    val toSet = dataToF.toSet
    val addedF = (toSet -- fromSet).toSeq.sorted
    val removedF = (fromSet -- toSet).toSeq.sorted
    // DV-affected files (up20): a data file live at BOTH versions whose
    // applicable deletion-vector entries changed carries row changes the
    // file diff can't see — its OLD effective content (DVs as of `from`)
    // and NEW effective content (DVs as of `to`) join the bag difference.
    // The probe is deletion-churn-sized: the DV sym-difference names the
    // files, never a data read.
    val dvAffected: Seq[String] =
      if (dvFromF == dvToF) Nil
      else {
        def dvRows(fs: Seq[String], like: Seq[String]): DataFrame =
          if (fs.nonEmpty) s.read.parquet(fs.map(f => s"$dir/$f"): _*)
          else s.read.parquet(like.map(f => s"$dir/$f"): _*).filter(lit(false))
        val dFrom = dvRows(dvFromF, dvToF)
        val dTo = dvRows(dvToF, dvFromF)
        val both = fromSet.intersect(toSet)
        dTo.exceptAll(dFrom).unionByName(dFrom.exceptAll(dTo))
          .select("file").distinct().collect().map(_.getString(0))
          .filter(both).toSeq.sorted
      }
    val oldFiles = (removedF ++ dvAffected).sorted
    val newFiles = (addedF ++ dvAffected).sorted
    require(oldFiles.nonEmpty || newFiles.nonEmpty,
      s"no changes between v$from and v$to")
    def eff(files: Seq[String], dvF: Seq[String]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(ttApplyDv(s, dir, ttReadFiles(s, dir, files), dvF))
    val added = eff(newFiles, dvToF)
    val removed = eff(oldFiles, dvFromF)
    def emptyLike(df: DataFrame): DataFrame = df.filter(lit(false))
    // NOT cached (r19, measured): each side feeds both exceptAll
    // directions, but the up15/up16/st29 specs pin the feed's
    // inputFiles ⊆ changed-set (the churn-boundedness contract), and a
    // cache boundary erases inputFiles. The double read is churn-sized;
    // consumers that need a materialized feed checkpoint what they
    // derive from it (ttApplyCdc's ins/delKeys leaves).
    val a = added.getOrElse(emptyLike(removed.get))
    val r = removed.getOrElse(emptyLike(added.get))
    // bag difference both ways: rows copied verbatim by a COW rewrite
    // (or merely surviving a DV) appear on both sides and cancel; only
    // genuine changes survive
    a.exceptAll(r).withColumn("_change_type", lit("insert"))
      .unionByName(r.exceptAll(a).withColumn("_change_type", lit("delete")))
  }

  /** st33 — apply ONE bronze commit's change feed to a silver replica
    * as ONE atomic, txn-tagged commit (the medallion bronze→silver
    * step; Delta: `readStream.option("readChangeFeed")` → foreachBatch
    * MERGE with txnAppId): deletes land as a deletion vector over the
    * silver head's matching rows, inserts as an appended batch, both
    * referenced by a single commit so a replica reader never observes
    * a half-applied version. Idempotent via the txn probe (a replayed
    * version is absorbed — returns false); committed through [[ttOcc]]:
    * the insert half is an append, staged once, while the DV rows are
    * derived from the silver head, so a lost claim recomputes them
    * against the head that won. Cost ∝ the version's churn, never
    * either table.
    */
  private[graft] def ttApplyCdc(s: SparkSession, bronzeDir: String,
      silverDir: String, v: Int, txn: String): Boolean = {
    val first = TtLog.list(s, silverDir)
    if (ttTxnIn(first, txn)) return false
    val ch =
      if (v == 0)
        ttAsOf(s, bronzeDir, 0).withColumn("_change_type", lit("insert"))
      else ttChanges(s, bronzeDir, v - 1, v)
    // per-branch checkpoints kept (r19, measured): one shared checkpoint
    // of the full feed looked cheaper on paper (ch evaluated once, not
    // twice) but A/B'd 30% SLOWER on st33 — two narrow post-filter
    // leaves beat one wide full-feed leaf re-filtered per use.
    val ins = ch.filter(col("_change_type") === "insert")
      .drop("_change_type").localCheckpoint(true)
    val delKeys = ch.filter(col("_change_type") === "delete")
      .select("event_id").localCheckpoint(true)
    val hasIns = ins.head(1).nonEmpty
    val hasDel = delKeys.head(1).nonEmpty
    // an append does not depend on the silver head: staged once
    val batchAdds =
      if (!hasIns) Nil
      else ttWriteBatch(s, silverDir, s"cdc${first.next}",
        ins.repartition(col("day")))
    ttOcc(first) { log =>
      // the first listing was probed above
      ((log eq first) || !ttTxnIn(log, txn)) && {
        // DV rows are silver-head-derived — recomputed on every attempt
        val dvAdds =
          if (!hasDel) Nil
          else {
            // silver-head candidates through the checkpoint relation (r17 #1)
            val cdcCand = ttWriteCandidates(s, log, log.head)
            val (dvF, dataF) = (cdcCand.dv, cdcCand.data)
            val tagged = ttApplyDv(s, silverDir,
              ttReadFiles(s, silverDir, dataF, mergeSchema = true)
                .withColumn("_pf", ttRelFile(silverDir)), dvF)
            val doomed = tagged.join(delKeys, Seq("event_id"))
              .select(col("_pf").as("file"), col("event_id"))
              .localCheckpoint(true)
            ttWriteDv(s, silverDir, s"cdc${log.next}-dv", doomed)
          }
        ttCommit(s, log, dvAdds ++ batchAdds, Nil, meta = Seq("op=cdc-apply", s"txn=$txn"))
        true
      }
    }
  }

  /** The declared up15 query: per adjacent version pair of the up13
    * scenario, the change feed rolled up by (change, event_type). The
    * delete commit (v3) emits NO insert rows and the append (v1) no
    * deletes — net semantics the oracle's EXCEPT ALL replay must
    * reproduce exactly.
    */
  def changeFeedRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttBaseScenario(s, d)
    (1 to 3).map { v =>
      ttChanges(s, dir, v - 1, v)
        .groupBy(col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"),
          col("_change_type").as("change"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "change", "event_type")
  }

  /** up16 — view maintenance THROUGH the change feed: stored
    * (event_type → n, sum_cents) partials of an old version are carried
    * to the head by ADDING insert partials and SUBTRACTING delete
    * partials — count and exact-integer cents are both abelian-group
    * aggregates, so deletes maintain algebraically, the move cat7's
    * plain-dir store cannot make (its removed files' bytes are gone;
    * `MatViewRewrite.maintainDailyRollup` documents the forced full
    * re-stage). Maintenance cost is CDF cost: only net-changed files
    * are read (spec-pinned via the plan's inputFiles), never the store.
    */
  private[graft] def maintainPartialsViaCdf(s: SparkSession, dir: String,
      partials: DataFrame, from: Int, to: Int): DataFrame = {
    val delta = ttChanges(s, dir, from, to)
      .groupBy("event_type")
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("dn"),
        sum(when(col("_change_type") === "insert", col("cents"))
          .otherwise(-col("cents"))).as("dcents"))
    partials.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sum_cents"), lit(0L)) +
          coalesce(col("dcents"), lit(0L))).as("sum_cents"))
      .filter(col("n") > 0)
  }

  /** The declared up16 query: v1's rollup partials maintained to v3
    * through the CDF — the range covers BOTH a COW update and a COW
    * delete, so a hash match against the oracle's from-raw v3 state
    * proves delete-bearing algebraic maintenance end to end.
    */
  def cdfMaintainedRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttBaseScenario(s, d)
    val v1Partials = ttAsOf(s, dir, 1).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    maintainPartialsViaCdf(s, dir, v1Partials, from = 1, to = 3)
      .orderBy("event_type")
  }

  /** up18 — MERGE INTO the log-structured store (the Delta/Iceberg
    * MERGE write verb, the lakehouse's transactional upsert): matched
    * target keys take the source row (update), unmatched source rows
    * insert, everything else passes through — executed as ONE
    * copy-on-write commit. Matching is TABLE-GLOBAL: the touched live
    * files are found by probing the key column of the live set against
    * the source's keys (a pruned scan + broadcast semi-join), so a key
    * that moved days still matches, and the rewrite is
    * `touched-rows ▷ source-keys ∪ source` (one anti-join + union —
    * up1's mergeUpsert shape, but against a VERSIONED store whose old
    * files survive as the previous snapshot). Cost ∝ matched files,
    * never the table; untouched days keep byte-identical files and the
    * commit is readable through every up13/up15 facility — AS OF shows
    * the pre-merge state, the CDF shows exactly the merge's row-level
    * effect (spec-pinned).
    */
  private[graft] def ttMergeInto(s: SparkSession, log: TtLog.Listing,
      source: DataFrame, sub: String): Unit = {
    val dir = log.table
    // TABLE-GLOBAL match scope (Delta/Iceberg MERGE semantics): touched
    // files are found by probing the LIVE file set for source keys — a
    // column-pruned (key, file) scan semi-joined against the broadcast
    // source keys — never by assuming matches live inside the source's
    // own days. A source row whose key sits on a day OUTSIDE its
    // carried day is thus an UPDATE (old file rewritten without the
    // key, new row lands under the source's day), not a silent
    // duplicate insert. At 100 TB the probe reads one column; with
    // per-file key min/max (the ManifestFileIndex discipline) it would
    // prune to candidate files before scanning at all. The collect is
    // file-count-bounded (touched file names), never data.
    //
    // DELETION-VECTOR composition (r14's one confirmed defect): the
    // live set may carry `_dv/` sidecars after any up20/up21/src30
    // commit — reading it raw would mix the `day=` layout with the
    // flat `_dv/` one (CONFLICTING_DIRECTORY_STRUCTURES). So (a) the
    // probe partitions them out and matches against the DV-APPLIED
    // rows — a source key whose only row is DV-deleted is logically
    // absent and takes MERGE's insert arm, not the update arm; (b) the
    // rewrite reads touched files THROUGH ttApplyDv, so DV-deleted
    // rows are never re-materialized into the new batch. DV entries
    // keyed on the retired files become INERT (ttApplyDv's contract:
    // an entry whose data file is no longer live never matches) — the
    // same-commit metadata retirement Delta gets by rewriting sidecars;
    // ttDvCompact reaps inert entries with the rest.
    // candidate resolution through the checkpoint relation (r17 #1)
    val mergeCand = ttWriteCandidates(s, log, log.head)
    val (dvLive, dataLive) = (mergeCand.dv, mergeCand.data)
    val srcKeys = source.select("event_id")
    val touched =
      if (dataLive.isEmpty) Seq.empty[String]
      else ttApplyDv(s, dir,
          ttReadFiles(s, dir, dataLive)
            // ttRelFile yields the file's LOG form directly: relative
            // for the table's own files, absolute for clone-inherited
            // externals (the removes list must use that convention)
            .select(col("event_id"), ttRelFile(dir).as("_mf")),
          dvLive)
        .join(broadcast(srcKeys), Seq("event_id"), "left_semi")
        .select("_mf").distinct().collect().map(_.getString(0))
        .toSeq.sorted
    val srcCols = source.select("event_id", "event_type", "cents", "day")
    // no matched file ⇒ pure insert: the source alone is the new batch
    // (an anti-join against an empty path list would be an
    // AnalysisException, and there is nothing to rewrite)
    val merged =
      if (touched.isEmpty) srcCols
      else ttApplyDv(s, dir, ttReadFiles(s, dir, touched), dvLive)
        .join(srcKeys, Seq("event_id"), "left_anti")
        .unionByName(srcCols)
        .localCheckpoint(true) // materialize before the metadata swap
    ttCommit(s, log, ttWriteBatch(s, dir, sub, merged.repartition(col("day"))), touched,
      meta = Seq("op=merge"))
  }

  /** The up18 scenario: a day-bounded upsert batch (first three days'
    * id%13 rows re-priced +1000 cents; keys deleted by v3 re-insert —
    * MERGE's unmatched-source rule) applied as v4 on the up13 store.
    */
  /** The up18 changeset (shared by the DataFrame verb and src29's SQL
    * MERGE, so the two front doors provably merge the same source).
    */
  private[graft] def ttMergeSource(s: SparkSession, d: String): DataFrame = {
    val dayCut = events(s, d).agg(date_format(
      date_add(min(to_date(col("ts"))), 2), "yyyy-MM-dd")).head.getString(0)
    val updates = events(s, d)
      .filter(col("event_id") % 13 === 0 &&
        date_format(col("ts"), "yyyy-MM-dd") <= dayCut)
      .select(col("event_id"), col("event_type"),
        (expr("cast(round(value * 100) as bigint)") + lit(1000L)).as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    // unmatched-source rows exercise MERGE's insert arm (fresh key space)
    val inserts = events(s, d)
      .filter(col("event_id") % 17 === 0 &&
        date_format(col("ts"), "yyyy-MM-dd") <= dayCut)
      .select((col("event_id") + lit(3000000000L)).as("event_id"),
        col("event_type"),
        (expr("cast(round(value * 100) as bigint)") + lit(500L)).as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    updates.unionByName(inserts)
  }

  private[graft] def ttMergedStore(s: SparkSession, d: String): String = {
    val dir = ttStore(s, d)
    ttMergeInto(s, TtLog.list(s, dir), ttMergeSource(s, d), "b4m")
    dir
  }

  def mergeIntoRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up18q_store",
      () => ttBaseScenario(s, d))(dd =>
      ttMergeInto(s, TtLog.list(s, dd), ttMergeSource(s, d), "b4m"))
    ttAsOf(s, dir, 4)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("event_type")
  }

  /** up17 — SCHEMA EVOLUTION on the log-structured store (Delta's
    * mergeSchema write / Iceberg's add-column): a v4 commit appends
    * late-arriving rows that CARRY A NEW COLUMN (`ingest_gen`). The
    * table format's contract, all spec-pinned: files already on disk
    * are untouched (schema evolution is metadata + new files, never a
    * rewrite); a pre-evolution snapshot (`AS OF 3`) does not even
    * SURFACE the column (its live files predate it); the head read
    * reconciles old files to NULL. At 100 TB this is why column adds
    * are free in a lakehouse — the alternative is restating every file.
    * The reference hard-codes one fixed schema end to end
    * (`ALS/ALS.java:90-93`). The declared head rollup counts the
    * evolved rows per type (`n_evolved` = non-null ingest_gen), fully
    * oracled from raw events.
    */
  private[graft] def ttEvolvedStore(s: SparkSession, d: String): String = {
    val dir = ttStore(s, d)
    ttBuildEvolvedSuffix(s, d, dir)
    dir
  }

  /** The evolved-batch (v4, new `ingest_gen` column) suffix. */
  private[graft] def ttBuildEvolvedSuffix(s: SparkSession, d: String,
      dir: String): Unit = {
    val extra = events(s, d).filter(col("event_id") % 11 === 0)
      .select((col("event_id") + lit(2000000000L)).as("event_id"),
        col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        lit(2L).as("ingest_gen")) // the evolved column
    ttCommit(s, TtLog.list(s, dir),
      ttWriteBatch(s, dir, "b4", extra.repartition(col("day"))), Nil,
      meta = Seq("op=append"))
  }

  def schemaEvolutionRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up17_store",
      () => ttBaseScenario(s, d))(dd => ttBuildEvolvedSuffix(s, d, dd))
    ttAsOf(s, dir, 4)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        count(col("ingest_gen")).as("n_evolved"))
      .orderBy("event_type")
  }

  /** up22 — RESTORE (Delta's `RESTORE TABLE ... VERSION AS OF`): roll
    * the table BACK to an earlier snapshot as a NEW commit whose
    * adds/removes are exactly the set difference between the target
    * version's live set and the head's — nothing is copied (the target's
    * files still exist: immutability + retention are what make restore a
    * metadata verb), history is preserved (the pre-restore head stays
    * readable AS OF), and the restore itself is time-travelable and
    * CDF-consumable like any commit. O(log metadata).
    */
  private[graft] def ttRestore(s: SparkSession, log: TtLog.Listing,
      target: Int): Unit = {
    // a nonexistent target must die HERE, not resolve: replaying the log
    // "as of" a version beyond the head silently yields the head's own
    // state, and the restore would then report a misleading no-op
    require(log.commits.contains(target),
      s"cannot restore to v$target: no such committed version under ${log.table}")
    val headRes = ttResolve(log, log.head)
    val tgtRes = ttResolve(log, target)
    val head = headRes.live.toSet
    val tgt = tgtRes.live.toSet
    require(head != tgt || headRes.schemaOps != tgtRes.schemaOps ||
        headRes.constraints != tgtRes.constraints,
      s"restore to v$target is a no-op")
    // restore must roll back SCHEMA state too, not just the file set —
    // a regretted DROP/RENAME COLUMN is a metadata-only commit, and
    // without this it would survive the rollback (the r16 probe
    // sequence). The restore commit carries a `schemareset` marker that
    // clears the accumulated mapping ops, then RE-DECLARES the target
    // version's ops verbatim, so resolution at any later version sees
    // exactly the target's logical schema — self-contained in one
    // commit body, checkpoint-foldable like every other schema op.
    val schemaMeta =
      if (headRes.schemaOps == tgtRes.schemaOps) Nil
      else "schemareset=1" +: tgtRes.schemaOps
    // constraint state restores the same way (Delta's RESTORE puts back
    // table METADATA wholesale, not just the file set): clear the active
    // set, re-declare the target's — so a regretted ADD CONSTRAINT is
    // undone by restoring to before it, and restoring forward past an
    // ADD re-activates enforcement
    val constraintMeta =
      if (headRes.constraints == tgtRes.constraints) Nil
      else "constraintreset=1" +: tgtRes.constraints.toSeq.sortBy(_._1)
        .map { case (n, e) => s"constraint=$n|$e" }
    ttCommit(s, log, (tgt -- head).toSeq.sorted, (head -- tgt).toSeq.sorted,
      meta = Seq("op=restore") ++ schemaMeta ++ constraintMeta)
  }

  /** The declared up22 query: restore the 4-version store to v1 as v4,
    * then answer v3 (the pre-restore head — must still read) AND v4
    * (must equal v1's state exactly) — the hash proves rollback
    * without loss of the rolled-over history.
    */
  def restoreRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up22_store",
      () => ttBaseScenario(s, d))(dd => ttRestore(s, TtLog.list(s, dd), target = 1))
    Seq(3, 4).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** up23 — SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`):
    * a NEW table whose v0 commit REFERENCES the source's data files at
    * a chosen version — zero bytes copied; the clone then evolves
    * INDEPENDENTLY (its own commits write into its own tree; a clone
    * COW retires external references as pure metadata, so the source
    * never notices). External files are logged ABSOLUTE — the path
    * convention [[ttReadFiles]]/[[ttRelFile]] resolve — and the
    * clone's vacuum can never delete them (it only lists its own
    * tree). At 100 TB this is the dev/test-against-production pattern:
    * fork the table for free, mutate the fork.
    */
  private[graft] def ttShallowClone(s: SparkSession, srcDir: String,
      cloneDir: String, asOf: Int): Unit = {
    val fs = ttFs(s, cloneDir)
    // clone into an EMPTY location only (ttCreateTable's rule): the verb
    // is SQL-reachable (src45), and silently wiping a user-declared path
    // is exactly the destructive reach-through the external-DROP fix
    // removed — callers that want a fresh tree delete it themselves
    val root = new org.apache.hadoop.fs.Path(cloneDir)
    require(!fs.exists(root) || fs.listStatus(root).isEmpty,
      s"clone location $cloneDir is not empty")
    val live = ttLiveFiles(s, srcDir, asOf)
    // clone a DV-bearing snapshot AFTER compacting it (ttDvCompact):
    // sidecar references don't survive the external-path convention
    require(!live.exists(ttIsDv),
      s"shallow clone of a DV-bearing snapshot — compact v$asOf first")
    val srcBase = new org.apache.hadoop.fs.Path(srcDir).toUri.getPath
    ttCommit(s, TtLog.list(s, cloneDir), live.map(f => s"$srcBase/$f"), Nil,
      meta = Seq("op=clone"))
  }

  /** The declared up23 query: clone the 4-version store at v3, apply an
    * independent COW mutation to the CLONE (every 'view' row +5 cents —
    * a whole-type rewrite across all days), and answer both tables'
    * heads side by side: the source must be byte-for-byte at v3 (its
    * files were referenced, never touched — spec-pinned) and the clone
    * must carry the mutation.
    */
  def shallowCloneRollup(s: SparkSession, d: String): DataFrame = {
    // one memoized scenario builds BOTH trees: the source store (its
    // files are what the clone's log references absolutely) and the
    // clone with its independent COW mutation applied
    val srcDir = Tables.scratchDir("graft_up23q_src", d)
    val clone = ttScenario(s, d, "graft_up23q_clone") { cloneDir =>
      val baseDir = ttBaseScenario(s, d)
      val fs = ttFs(s, srcDir)
      fs.delete(new org.apache.hadoop.fs.Path(srcDir), true)
      require(org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(baseDir), fs,
        new org.apache.hadoop.fs.Path(srcDir),
        false, true, s.sparkContext.hadoopConfiguration),
        "up23 source clone failed")
      ttShallowClone(s, srcDir, cloneDir, asOf = 3)
      // independent clone mutation: COW-rewrite the rows matching the
      // predicate PLUS their co-resident file rows (MERGE's shape:
      // touched files rewritten wholesale, externals retired as metadata)
      val srcRows = ttAsOf(s, cloneDir, 0).filter(col("event_type") === "view")
        .withColumn("cents", col("cents") + lit(5L))
        .select("event_id", "event_type", "cents", "day")
      ttMergeInto(s, TtLog.list(s, cloneDir), srcRows, "c1")
    }
    def head(table: String, tdir: String, v: Int): DataFrame =
      ttAsOf(s, tdir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(table).as("tbl"), col("event_type"),
          col("n"), col("sum_cents"))
    head("clone", clone, 1).unionByName(head("source", srcDir, 3))
      .orderBy("tbl", "event_type")
  }

  /** One commit's audit row: version, operation label, commit time. */
  private[graft] final case class TtCommitInfo(version: Int, op: String,
      tsMs: Long)

  /** up24 — TABLE HISTORY (Delta's DESCRIBE HISTORY / Iceberg's
    * snapshots table): the commit log read back as an audit surface —
    * every commit carries an `op=` label (write/append/update/delete/
    * merge/optimize/restore/clone/streaming-append) and a `ts=` commit
    * timestamp, read as `Meta` entries of every commit through one
    * [[graft.sources.TtLog]] listing — O(commits) metadata. The declared
    * query JOINS the history with each version's ROW COUNT — served
    * from commit-time stats, never a recount (see [[ttStatsRowCount]])
    * — so the oracle (which recomputes every state from raw events)
    * verifies the operation sequence AND the stats bookkeeping AGAINST
    * the data they describe, not just label strings.
    */
  private[graft] def ttHistory(s: SparkSession, dir: String): Seq[TtCommitInfo] = {
    val log = TtLog.list(s, dir)
    log.commits.keys.toSeq.map { v =>
      val entries = log.entries(v)
      def meta(k: String) = entries.collectFirst { case TtLog.Meta(`k`, x) => x }
      TtCommitInfo(v, meta("op").getOrElse("write"),
        meta("ts").map(_.toLong).getOrElse(ttClockMs(v)))
    }
  }

  /** Newest version whose commit timestamp is ≤ `tsMs` — the TIMESTAMP
    * AS OF resolution rule (Delta/Iceberg: floor over commit times).
    * O(commits) metadata.
    */
  private[graft] def ttVersionAt(s: SparkSession, dir: String,
      tsMs: Long): Int = {
    val hist = ttHistory(s, dir)
    hist.filter(_.tsMs <= tsMs).map(_.version).sorted.lastOption.getOrElse(
      sys.error(s"no commit at or before ts=$tsMs under $dir " +
        hist.map(_.tsMs).minOption.fold("(store has no commits)")(e =>
          s"(earliest is $e)")))
  }

  /** Stats-sourced row count of a resolved snapshot: the sum of live
    * data files' commit-time numRows — no log read, never a scan. None
    * when any live file lacks stats (pre-stats generations) or when
    * deletion vectors are live (their logical subtraction is
    * entry-level; recount instead) — callers fall back to counting.
    */
  private[graft] def ttStatsRowCount(res: TtResolution): Option[Long] = {
    val (dv, data) = res.live.partition(ttIsDv)
    if (dv.nonEmpty) None
    else {
      val sts = data.map(res.stats.get)
      if (sts.exists(_.isEmpty)) None
      else Some(sts.flatten.map(_.numRows).sum)
    }
  }

  /** The declared up24 query: the up18 store's five-commit history
    * (write → append → update → delete → merge), each version tagged
    * with its operation, its commit timestamp (the deterministic
    * [[ttClockMs]] clock, so the oracle recomputes it), and its
    * snapshot row count SERVED FROM COMMIT STATS — the r14 recount
    * (O(versions × snapshot-scan)) is retired to the spec's
    * cross-check. Store construction is staged ([[ttScenario]]).
    */
  def tableHistory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = ttDerivedScenario(s, d, "graft_up18q_store",
      () => ttBaseScenario(s, d))(dd =>
      ttMergeInto(s, TtLog.list(s, dd), ttMergeSource(s, d), "b4m"))
    val log = TtLog.list(s, dir)
    ttHistory(s, dir).map { ci =>
      val n = ttStatsRowCount(ttResolve(log, ci.version)).getOrElse(
        sys.error(s"v${ci.version} lost its commit stats"))
      (ci.version.toLong, ci.op,
        new java.sql.Timestamp(ci.tsMs), n)
    }.toDF("version", "op", "commit_ts", "n_rows").orderBy("version")
  }

  /** up19 store: a MANY-commit log — v0 base plus nine append commits
    * (commit i appends the `event_id % 9 == i-1` slice re-keyed into its
    * own id band), so checkpoints auto-write at v4 and v8 and all three
    * resolution regimes get exercised: pre-first-checkpoint (full
    * replay), mid-interval (ckpt4 + suffix), head (ckpt8 + suffix).
    */
  private[graft] def ttManyCommitStore(s: SparkSession, d: String): String = {
    val dir = Tables.scratchDir("graft_up19_store", d)
    ttFs(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    ttBuildManyCommits(s, d, dir)
    dir
  }

  /** The many-commit scenario body, building into a CLEAN `dir`. */
  private[graft] def ttBuildManyCommits(s: SparkSession, d: String,
      dir: String): Unit = {
    val base = events(s, d).select(col("event_id"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ttCommit(s, TtLog.list(s, dir),
      ttWriteBatch(s, dir, "b0", base.repartition(col("day"))), Nil,
      meta = Seq("op=write"))
    (1 to 9).foreach { i =>
      val slice = base.filter(col("event_id") % 9 === (i - 1))
        .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
      ttCommit(s, TtLog.list(s, dir),
        ttWriteBatch(s, dir, s"b$i", slice.repartition(col("day"))), Nil,
        meta = Seq("op=append"))
    }
  }

  /** The declared up19 query: per-(version, event_type) rollups at v3,
    * v6 and v9 of the many-commit store — v3 resolves by pure replay
    * (no checkpoint yet), v6 through ckpt4, v9 through ckpt8; the hash
    * match proves checkpointed resolution reconstructs the identical
    * snapshots the full replay would. The ≤(1 + interval)-file-read
    * bound and checkpoint idempotence are spec-pinned (not
    * data-observable by the oracle).
    */
  def checkpointedTimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = ttManyScenario(s, d)
    Seq(3, 6, 9).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** The declared up25 query: OPTIMIZE the many-commit store (ten
    * commits × days of small files — exactly the fragmentation
    * streaming ingest leaves) at v10, then answer the same rollup at
    * v9 (pre) and v10 (post): the hash proves compaction is logically
    * invisible while the post-optimize scan plans over ONE file per
    * day. Store construction AND the optimize commit are staged
    * ([[ttScenario]] — both are one-time state, not per-query cost);
    * the numFiles drop, empty CDF and byte-identity of untouched
    * files are spec-pinned (not data-observable by the oracle).
    */
  def optimizeRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up25_store",
      () => ttManyScenario(s, d))(dd =>
      require(ttOptimize(s, TtLog.list(s, dd), "o10"), "up25 fixture had nothing to pack"))
    Seq(9, 10).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** The declared up26 query: COLUMN MAPPING end to end — the r14
    * verdict's missing #6 (rename/drop beyond up17's add-column,
    * without which a rename is a full rewrite). The scenario: the
    * 4-version store + up17's evolved batch (v4, adds `ingest_gen`),
    * then `cents` RENAMED to `amount` (v5 — pure metadata, every file
    * byte-identical), a post-rename append carrying the LOGICAL name
    * (v6 — written physically as `cents` via the inverse map, so every
    * older snapshot still reconciles), and `ingest_gen` DROPPED (v7 —
    * metadata again; earlier snapshots still surface it). The head
    * rollup aggregates `amount`; the oracle recomputes it from raw
    * events under the old name — the hash proves rename+mapped-append+
    * drop change reads, never bytes. Spec pins per-snapshot naming,
    * byte-identity, the physical form of the mapped batch, and
    * ops-through-checkpoint resolution.
    */
  def columnMappingRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up26_store",
      () => ttBaseScenario(s, d)) { dd =>
      ttBuildEvolvedSuffix(s, d, dd)
      ttRenameColumn(s, TtLog.list(s, dd), "cents", "amount")
      val mapped = events(s, d).filter(col("event_id") % 21 === 0)
        .select((col("event_id") + lit(8000000000L)).as("event_id"),
          col("event_type"),
          (expr("cast(round(value * 100) as bigint)") + lit(330L)).as("amount"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      ttMappedAppend(s, TtLog.list(s, dd), "b6", mapped)
      ttDropColumn(s, TtLog.list(s, dd), "ingest_gen")
    }
    ttAsOf(s, dir, 7).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("amount").as("sum_amount"))
      .orderBy("event_type")
  }

  /** up27 — OCC APPEND under a FORCED commit race: two writers stage
    * batches from the SAME head; writer B claims the next version first, then
    * writer A attempts the same version from the same stale listing —
    * its claim fails and it REBASES ([[ttOcc]] re-lists and it re-commits
    * its already-published files at the next version, no re-execution:
    * an append's staged output is position-independent). Delta's conflict-check-then-retry
    * discipline, driven deterministically so the loser's path executes
    * every run. The declared read is pinned at v5 (the first race's
    * post-append head over the memoized store — later runs race again
    * at higher versions without disturbing it); the oracle applies BOTH
    * appends to the v3 state, so losing either writer breaks the hash.
    */
  def occAppendRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up27_store",
      () => ttBaseScenario(s, d))(_ => ())
    val stale = TtLog.list(s, dir)
    val base = events(s, d).select(col("event_id"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    def slice(m: Int, off: Long): DataFrame =
      base.filter(col("event_id") % m === 0)
        .withColumn("event_id", col("event_id") + lit(off))
    val addsA = ttWriteBatch(s, dir, s"oa${stale.next}",
      slice(31, 4000000000L).repartition(col("day")))
    val addsB = ttWriteBatch(s, dir, s"ob${stale.next}",
      slice(37, 5000000000L).repartition(col("day")))
    def append(adds: Seq[String]): Int =
      ttOcc(stale)(log => ttCommit(s, log, adds, Nil, Seq("op=append")))
    val vB = append(addsB)
    val vA = append(addsA)
    require(vB == stale.next && vA == stale.next + 1,
      s"forced race resolved wrong: B=$vB A=$vA from head ${stale.head}")
    ttAsOf(s, dir, 5).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("event_type")
  }

  /** up14 — VACUUM with a retention horizon (Delta's VACUUM / Iceberg's
    * expire_snapshots): time travel (up13) keeps every superseded file
    * forever; vacuum deletes exactly the data files referenced by NO
    * retained version — the union of the last `keep` versions' live
    * sets is computed from the log (pure metadata), everything else on
    * disk goes. Retained snapshots stay byte-identical (their files
    * were never candidates); AS OF older than the horizon correctly
    * dies. At 100 TB this is what bounds an immutable-file store:
    * without it every COW update grows the table forever; with it
    * storage is live-data + horizon-deep history, and the delete is
    * O(files), never a data read. Returns (before, after, removed).
    */
  private[graft] def ttVacuum(s: SparkSession, dir: String,
      keep: Int): (Int, Int, Int) = {
    val maxV = TtLog.head(s, dir)
    ttVacuumVersions(s, dir, (maxV - keep + 1) to maxV)
  }

  /** up29 — WALL-CLOCK retention (`VACUUM ... RETAIN <hours> HOURS`,
    * Delta's production spelling): the horizon is resolved against the
    * `# ts=` commit timestamps — every version committed within the
    * window is retained (plus the head unconditionally: the current
    * state is never vacuumable, however old). The clock is INJECTED
    * (`nowMs`) so the declared scenario is deterministic and oracleable
    * — production callers pass wall-clock, the declared query passes a
    * fixed instant derived from [[ttClockMs]]. Delegates to the same
    * referenced-file accounting as the version-horizon form.
    */
  private[graft] def ttVacuumRetainHours(s: SparkSession, dir: String,
      hours: Int, nowMs: Long): (Int, Int, Int) = {
    val hist = ttHistory(s, dir)
    require(hist.nonEmpty, s"vacuum of an uninitialized store: $dir")
    val cutoff = nowMs - hours.toLong * 3600000L
    val head = hist.map(_.version).max
    val retained = hist.filter(_.tsMs >= cutoff).map(_.version).toSet + head
    ttVacuumVersions(s, dir, retained.toSeq.sorted)
  }

  /** Shared accounting: delete every data file referenced by NONE of
    * `retainedVersions`. Pure log metadata + one tree listing; the
    * delete is O(files), never a data read.
    */
  private def ttVacuumVersions(s: SparkSession, dir: String,
      retainedVersions: Seq[Int]): (Int, Int, Int) = {
    val fs = ttFs(s, dir)
    val retained = retainedVersions
      .flatMap(v => ttLiveFiles(s, dir, v)).toSet
    val onDisk = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val base = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath.toUri.getPath
        val rel = p.stripPrefix(base).stripPrefix("/")
        // _log/ holds commit metadata + parquet CHECKPOINTS — never
        // vacuum candidates (deleting a checkpoint would send every
        // resolution back to full replay)
        if (p.endsWith(".parquet") && !rel.startsWith(TtLog.dirName + "/")) out += rel
      }
      out.toSeq
    }
    val doomed = onDisk.filterNot(retained)
    doomed.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$f"), false))
    (onDisk.size, onDisk.size - doomed.size, doomed.size)
  }

  /** The declared up14 query: build the 4-version store, vacuum to the
    * last two versions, and answer the per-(version, event_type) rollup
    * for BOTH retained snapshots from the vacuumed store — a hash match
    * proves vacuum deleted nothing any retained version needs. The
    * file accounting and the pre-horizon AS OF failure are spec-pinned
    * (not data-derivable by the oracle).
    */
  def vacuumedTimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up14_store",
      () => ttBaseScenario(s, d))(dd => ttVacuum(s, dd, keep = 2))
    (2 to 3).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** The declared up29 query: WALL-CLOCK retention over the 4-version
    * store — `RETAIN 1 HOUR` evaluated AT the v3 commit instant (the
    * injected deterministic clock: commits land one hour apart), so the
    * horizon resolves to {v2, v3} — v1 would retain every v0 file (an
    * append supersedes nothing), which is why the window excludes it —
    * and the COW-superseded originals are reaped. Both retained
    * snapshots answer from the vacuumed store — the hash proves the
    * time-resolved horizon deleted nothing any retained version needs.
    * File accounting and the pre-horizon AS OF failure are spec-pinned.
    */
  def vacuumRetainRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttDerivedScenario(s, d, "graft_up29_store",
      () => ttBaseScenario(s, d))(dd =>
      ttVacuumRetainHours(s, dd, hours = 1, nowMs = ttClockMs(3)))
    (2 to 3).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** The shared READ-ONLY 4-version store: up13/up15/up16 and the SQL
    * read fronts (src28/src32/src34, st28's tail) all resolve snapshots
    * of one memoized build — none of them commits to it.
    */
  private[graft] def ttBaseScenario(s: SparkSession, d: String): String =
    ttScenario(s, d, "graft_lake_base")(ttBuildStore(s, d, _))

  /** The shared many-commit template (up19's fixture; up25 derives). */
  private[graft] def ttManyScenario(s: SparkSession, d: String): String =
    ttScenario(s, d, "graft_lake_many")(ttBuildManyCommits(s, d, _))

  def timeTravelRollup(s: SparkSession, d: String): DataFrame = {
    val dir = ttBaseScenario(s, d)
    (0 to 3).map { v =>
      ttAsOf(s, dir, v).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("n"), col("sum_cents"))
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("up30_convert_in_place", convertInPlaceRollup, Some(
      // conversion state (all events) ∪ the post-convert append — a
      // conversion that lost or duplicated an existing file breaks it
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |v1 AS (
        |  SELECT event_type, cents FROM base
        |  UNION ALL
        |  SELECT event_type, cents + 40 FROM base WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up28_zorder_optimize", zorderOptimizeRollup, Some(
      // the v3 state key-banded (cap = max base id / 4), expected at
      // BOTH v3 (pre-clustering) and v4 (post) — the hash proves the
      // clustered rewrite is a logical no-op; the physical skipping win
      // is spec-pinned (numFiles drops through ttSkippingRelation)
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |banded AS (
        |  SELECT * FROM v3
        |  WHERE event_id <= (SELECT max(event_id) // 4 FROM events)),
        |vs AS (SELECT * FROM (VALUES (3), (4)) AS t(version))
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM vs CROSS JOIN banded
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up31_optimize_where", optimizeWhereRollup, Some(
      // the v10 head per (day, type): every base row twice (base ∪ the
      // nine re-keyed slices) — identical rows whether a day was
      // compacted or not, so a scoped rewrite that moved ROWS (not just
      // bytes) anywhere breaks the hash
      """WITH base AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |st AS (SELECT * FROM base UNION ALL SELECT * FROM base)
        |SELECT day, event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up25_optimize", optimizeRollup, Some(
      // one full state (base ∪ all nine re-keyed slices = every base row
      // twice), expected at BOTH v9 (fragmented) and v10 (compacted) —
      // the hash proves bin-packing rewrites bytes, never rows
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |vs AS (SELECT * FROM (VALUES (9), (10)) AS t(version)),
        |st AS (
        |  SELECT vs.version, b.event_type, b.cents FROM vs CROSS JOIN base b
        |  UNION ALL
        |  SELECT vs.version, b.event_type, b.cents FROM vs CROSS JOIN base b)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up26_column_mapping", columnMappingRollup, Some(
      // head state under the NEW name: v3 ∪ evolved batch ∪ mapped
      // batch, aggregated as `amount` — the oracle computes it from
      // raw events under the old physical name
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |head AS (
        |  SELECT event_type, cents FROM v3
        |  UNION ALL
        |  SELECT event_type, cents FROM base WHERE event_id % 11 = 0
        |  UNION ALL
        |  SELECT event_type, cents + 330 FROM base WHERE event_id % 21 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_amount
        |FROM head GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up27_occ_append", occAppendRollup, Some(
      // v3 plus BOTH writers' slices: the loser of the forced claim race
      // must land via rebase or its slice is missing from the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v5 AS (
        |  SELECT * FROM v3
        |  UNION ALL
        |  SELECT event_id + 5000000000, event_type, cents, day FROM base
        |  WHERE event_id % 37 = 0
        |  UNION ALL
        |  SELECT event_id + 4000000000, event_type, cents, day FROM base
        |  WHERE event_id % 31 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v5 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up24_table_history", tableHistory, Some(
      // the operation sequence verified AGAINST each snapshot's row
      // count, both recomputed from raw events
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1,
        |         min(day) + 2 AS dcut FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v3 AS (
        |  SELECT * FROM v1
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4n AS (
        |  SELECT (SELECT count(*) FROM v3)
        |    + (SELECT count(*) FROM base
        |       WHERE event_id % 17 = 0 AND day <= (SELECT dcut FROM probe))
        |    AS n),
        |hist AS (
        |  SELECT 0 AS version, 'write' AS op,
        |    (SELECT count(*) FROM base) AS n_rows
        |  UNION ALL SELECT 1, 'append', (SELECT count(*) FROM v1)
        |  UNION ALL SELECT 2, 'update', (SELECT count(*) FROM v1)
        |  UNION ALL SELECT 3, 'delete', (SELECT count(*) FROM v3)
        |  UNION ALL SELECT 4, 'merge', (SELECT n FROM v4n))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  TIMESTAMP '2024-06-01 00:00:00' + to_hours(version) AS commit_ts,
        |  n_rows
        |FROM hist ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src32_tt_data_skipping", ttSkippingQuery, Some(
      // the appended-id band of the recomputed v3 state; the engine's
      // plan prunes every base-batch file via the per-file key manifest
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe)))
        |SELECT day, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v3 WHERE event_id >= 1000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up23_shallow_clone", shallowCloneRollup, Some(
      // clone head = v3 with 'view' cents +5 (the clone's own COW);
      // source head = v3 untouched — independence proven in one hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |tb AS (
        |  SELECT 'clone' AS tbl, event_type,
        |    cents + CASE WHEN event_type = 'view' THEN 5 ELSE 0 END AS cents
        |  FROM v3
        |  UNION ALL
        |  SELECT 'source', event_type, cents FROM v3)
        |SELECT tbl, event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM tb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up22_restore", restoreRollup, Some(
      // v3 = the pre-restore head (history preserved); v4 = v1's state
      // re-served as the new head (rollback as pure metadata)
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 3 AS version, event_type, cents FROM v3
        |  UNION ALL SELECT 4, event_type, cents FROM v1)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up21_mor_update", morUpdateRollup, Some(
      // v3 untouched; v4 = v3 with purchase cents +77 — the DV+batch
      // one-commit update replayed logically
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN event_type = 'purchase' THEN 77 ELSE 0 END
        |      AS cents, day
        |  FROM v3),
        |all_v AS (
        |  SELECT 3 AS version, event_type, cents FROM v3
        |  UNION ALL SELECT 4, event_type, cents FROM v4)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up20_deletion_vectors", dvDeleteRollup, Some(
      // one post-delete state (v3 minus the % 23 keys), expected at BOTH
      // v4 (merge-on-read) and v5 (materialized) — the hash proves the
      // DV-applied read and its compaction agree exactly
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (SELECT * FROM v3 WHERE event_id % 23 <> 0),
        |all_v AS (
        |  SELECT 4 AS version, event_type, cents FROM v4
        |  UNION ALL SELECT 5, event_type, cents FROM v4)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up19_log_checkpoint", checkpointedTimeTravel, Some(
      // state at v = base ∪ the first v re-keyed slices (slice i carries
      // the event_id % 9 = i-1 rows); the engine answers each version
      // through checkpoint-seeded log resolution
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |vs AS (SELECT * FROM (VALUES (3), (6), (9)) AS t(version)),
        |st AS (
        |  SELECT vs.version, b.event_type, b.cents FROM vs CROSS JOIN base b
        |  UNION ALL
        |  SELECT vs.version, b.event_type, b.cents
        |  FROM vs JOIN base b ON (b.event_id % 9) + 1 <= vs.version)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up18_merge_into", mergeIntoRollup, Some(
      // head = v3 with the windowed id%13 keys re-priced (update arm)
      // and the +3e9 id%17 keys added (insert arm) — the oracle applies
      // MERGE's semantics to the recomputed v3 state directly
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1,
        |         min(day) + 2 AS dcut FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (
        |  SELECT * FROM v3
        |  WHERE NOT (event_id % 13 = 0 AND event_id < 1000000000
        |             AND day <= (SELECT dcut FROM probe))
        |  UNION ALL
        |  SELECT event_id, event_type, cents + 1000, day FROM base
        |  WHERE event_id % 13 = 0 AND day <= (SELECT dcut FROM probe)
        |  UNION ALL
        |  SELECT event_id + 3000000000, event_type, cents + 500, day
        |  FROM base
        |  WHERE event_id % 17 = 0 AND day <= (SELECT dcut FROM probe))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v4 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up17_schema_evolution", schemaEvolutionRollup, Some(
      // head = v3's logical state ∪ the evolved batch; n_evolved counts
      // exactly the new-column carriers (old files reconcile to NULL)
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |head AS (
        |  SELECT event_type, cents, CAST(NULL AS BIGINT) AS ingest_gen FROM v3
        |  UNION ALL
        |  SELECT event_type, cents, 2 AS ingest_gen
        |  FROM base WHERE event_id % 11 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(ingest_gen) AS n_evolved
        |FROM head GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up15_change_feed", changeFeedRollup, Some(
      // the oracle rebuilds the four logical states from raw events
      // (up13's CTEs verbatim) and takes the bag difference of each
      // adjacent pair — the engine computes the same rows from the
      // log's net file diff, reading ONLY changed files
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |ch AS (
        |  SELECT 1 AS version, 'insert' AS change, event_type, cents
        |    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM base)
        |  UNION ALL
        |  SELECT 1, 'delete', event_type, cents
        |    FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM v1)
        |  UNION ALL
        |  SELECT 2, 'insert', event_type, cents
        |    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
        |  UNION ALL
        |  SELECT 2, 'delete', event_type, cents
        |    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
        |  UNION ALL
        |  SELECT 3, 'insert', event_type, cents
        |    FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2)
        |  UNION ALL
        |  SELECT 3, 'delete', event_type, cents
        |    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3))
        |SELECT CAST(version AS BIGINT) AS version, change, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM ch GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      staged = true),
    QueryDef("up16_cdf_maintenance", cdfMaintainedRollup, Some(
      // v1 partials + CDF(1→3) must equal the from-raw v3 state — the
      // oracle recomputes v3 directly; a wrong insert/delete partial
      // (or a missed COW-copied row cancelling) breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe)))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("up29_vacuum_retain_hours", vacuumRetainRollup, Some(
      // same retained states as up14 — the horizon here is WALL-CLOCK
      // (RETAIN 1 HOUR at the v3 commit instant) instead of a version
      // count, resolved against the deterministic commit timestamps
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 2 AS version, event_type, cents FROM v2
        |  UNION ALL SELECT 3, event_type, cents FROM v3)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up14_vacuum", vacuumedTimeTravel, Some(
      // up13's oracle restricted to the RETAINED versions — the same
      // logical states recomputed from raw events, answered by the
      // engine from the vacuumed store
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 2 AS version, event_type, cents FROM v2
        |  UNION ALL SELECT 3, event_type, cents FROM v3)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up13_time_travel", timeTravelRollup, Some(
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 0 AS version, event_type, cents FROM base
        |  UNION ALL SELECT 1, event_type, cents FROM v1
        |  UNION ALL SELECT 2, event_type, cents FROM v2
        |  UNION ALL SELECT 3, event_type, cents FROM v3)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("up12_occ_commit", occCommitRollup, Some(
      """SELECT event_type, day(CAST(ts AS DATE)) % 2 AS parity,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    + CASE WHEN day(CAST(ts AS DATE)) % 2 = 1 THEN 7 ELSE 100 END
        |    + CASE WHEN day(CAST(ts AS DATE)) % 3 = 0 THEN 13 ELSE 0 END)
        |    AS BIGINT) AS sum_cents
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("up11_compaction", compactAudit, Some(
      // files_before/files_after/compacted are MEASURED from the store's
      // file system; the oracle derives them from raw events + the
      // deterministic fragmentation rule — agreement proves the layout
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(CASE WHEN day(CAST(ts AS DATE)) % 2 = 1
        |       THEN count(DISTINCT event_id % 8) ELSE 1 END AS INT) AS files_before,
        |  1 AS files_after,
        |  CASE WHEN day(CAST(ts AS DATE)) % 2 = 1
        |       THEN count(DISTINCT event_id % 8) ELSE 1 END > 1 AS compacted
        |FROM events GROUP BY day ORDER BY day""".stripMargin)),
    QueryDef("up9_multitable_snapshot", multiTableSnapshot, Some(
      """SELECT o_orderpriority AS prio, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(0 AS BIGINT) AS n_orphans
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("up8_erasure_cascade", erasurePropagation, Some(
      """WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
        |dord AS (SELECT o_orderkey FROM orders
        |         WHERE o_custkey IN (SELECT c_custkey FROM del)),
        |rep AS (
        |  SELECT 'customer' AS tbl,
        |    (SELECT count(*) FROM customer) AS n_before,
        |    (SELECT count(*) FROM del) AS n_deleted
        |  UNION ALL SELECT 'orders',
        |    (SELECT count(*) FROM orders), (SELECT count(*) FROM dord)
        |  UNION ALL SELECT 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM dord)))
        |SELECT tbl, n_before, n_deleted, n_before - n_deleted AS n_after
        |FROM rep ORDER BY tbl""".stripMargin)),
    // oracle = the NEW snapshot rebuilt from source: diff-apply must be
    // indistinguishable from a rebuild
    QueryDef("up7_cdc_apply", cdcApply, Some(
      """SELECT o_orderkey,
        |  round(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
        |             ELSE o_totalprice END, 2) AS price
        |FROM orders WHERE o_orderkey % 11 <> 0
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("up10_forget_restatement", forgetRestatement, Some(
      // n_after is measured from the post-restatement FILES; the oracle
      // recomputes it from the raw table + the forget rule — agreement
      // proves the physical delete removed exactly the requested rows
      """SELECT CAST(ts AS DATE) AS day,
        |  count(*) AS n_before,
        |  CAST(count(*) FILTER (user_id % 101 <> 7) AS BIGINT) AS n_after,
        |  CAST(count(*) FILTER (user_id % 101 = 7) AS BIGINT) AS n_removed,
        |  (count(*) FILTER (user_id % 101 = 7)) > 0 AS restated
        |FROM events GROUP BY day ORDER BY day""".stripMargin)),
    QueryDef("up6_partition_overwrite", dynamicPartitionOverwrite, Some(
      """SELECT event_type, count(*) AS n,
        |  round(sum(CASE WHEN event_type = 'click' THEN value * 2 ELSE value END), 4)
        |    AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("up5_idempotent_append", idempotentAppend, Some(
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
        |  round(value, 4) AS value
        |FROM events WHERE ts < TIMESTAMP '2024-01-25'
        |ORDER BY event_id""".stripMargin)),
    QueryDef("up4_snapshot_diff", snapshotDiff, Some(
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice AS old_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |nw AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |j AS (
        |  SELECT coalesce(old.o_orderkey, nw.o_orderkey) AS o_orderkey,
        |    old_price, new_price,
        |    CASE WHEN old_price IS NULL THEN 'insert'
        |         WHEN new_price IS NULL THEN 'delete'
        |         WHEN old_price <> new_price THEN 'update' END AS change_type
        |  FROM old FULL OUTER JOIN nw ON old.o_orderkey = nw.o_orderkey)
        |SELECT o_orderkey, change_type, old_price, new_price
        |FROM j WHERE change_type IS NOT NULL ORDER BY o_orderkey""".stripMargin)),
    QueryDef("up3_incremental_rollup", incrementalRollup, Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("up1_merge_upsert", ordersUpsert, Some(
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0::DOUBLE AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT o_orderkey + 500000000 AS o_orderkey, o_custkey,
        |    'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |  FROM upd),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
        |  COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
        |  COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
        |  COALESCE(s.o_orderdate, t.o_orderdate) AS o_orderdate,
        |  COALESCE(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority
        |FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("up2_scd2_history", scd2History, Some(
      // CAST row_number AS INT: DuckDB's is BIGINT, Spark's is INT
      """WITH seq AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |chg AS (SELECT * FROM seq WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  o_orderstatus,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to
        |FROM chg
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin))
  )
}
