package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryDef, Tables}
import graft.engine.Staged

/** Relational operator surface (SURVEY.md §2 parity set, O1–O6/O14–O16 plus
  * the full declarative surface of §7 M3: scans, projection/filter, joins of
  * every flavor, partial+final aggregation, windows, sort/limit/top-k, set
  * ops, scalar string/date/math/regex functions).
  *
  * Design rules for every query here:
  *  - declarative DataFrame ops only → Catalyst pushes filters/projections
  *    into the parquet scan and keeps everything inside whole-stage codegen;
  *  - deterministic output: every ORDER BY has a unique key, every float
  *    aggregate is rounded so sum-order nondeterminism cannot flip a hash;
  *  - scale-aware: broadcast hints only on genuinely small dims (region,
  *    nation, supplier, customer at test SF — at 100 TB customer would NOT
  *    be broadcast, so the broadcast hint lives only on region/nation and
  *    AQE decides the rest).
  */
object Relational {
  import Tables._

  /** O1+O16 (ALS.java:82-105, mapid.py:4-24): schema-enforced CSV scan with
    * FAILFAST parity (the reference's Integer.parseInt throws on malformed
    * rows). Round-trips lineitem keys through CSV text and back.
    */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    val tmp = graft.Tables.scratchDir("graft_csv", d)
    lineitem(s, d).select(cols.map(col): _*)
      .write.mode("overwrite").csv(tmp)
    s.read
      .schema("l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE")
      .option("mode", "FAILFAST")
      .csv(tmp)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** O2 (ALS.java:132-150): grouped vector assembly with duplicate-key
    * summation (`Vectors.sum` semantics — duplicate (user,item) pairs SUM).
    * Map-side partial aggregation is Spark's automatic combiner.
    */
  def dupSum(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_suppkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(round(sum("l_quantity"), 4).as("rating_sum"), count(lit(1)).as("n_dups"))
      .orderBy("user_id", "item_id")

  /** O3 (ALS.java:240-245,274-279): entity counts — distributed agg instead
    * of the reference's driver-side SequenceFile iteration.
    */
  def entityCounts(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      countDistinct("l_partkey").as("n_items"),
      countDistinct("l_suppkey").as("n_users"))

  /** O4 (ALS.java:173-196): transpose = regroup by the other key; in
    * relational form a plain groupBy("user") — no explode/regroup shuffle
    * dance needed.
    */
  def userRegroup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_suppkey").as("user_id"))
      .agg(
        count(lit(1)).as("n_entries"),
        min("l_partkey").as("min_item"),
        max("l_partkey").as("max_item"),
        round(sum("l_quantity"), 4).as("total_rating"))
      .orderBy("user_id")

  /** O5+O6 (ALS.java:152-171,198-214): per-item average kept as a
    * distributed (item, avg) table — the reference's single-key global
    * vector merge is an anti-pattern we deliberately do not reproduce.
    */
  def itemAvg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_partkey").as("item_id"))
      .agg(round(avg("l_quantity"), 6).as("avg_rating"))
      .orderBy("item_id")

  /** O14 (ALS.java:423-433): RMSE as a distributed agg — here RMSE of
    * quantity against its per-item mean (window avg = the item-average
    * baseline predictor of ALS.java:344-345).
    */
  def rmseBaseline(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_partkey")
    lineitem(s, d)
      .withColumn("pred", avg("l_quantity").over(w))
      .agg(round(sqrt(avg(pow(col("l_quantity") - col("pred"), 2))), 6).as("rmse"))
  }

  /** O15 (mapid.py:14-46): deterministic dictionary encoding. The reference
    * builds ids from Python set order (nondeterministic); we sort then
    * zipWithIndex — distributed, no single-reducer window, reproducible.
    */
  def dictEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val distinctSorted = customer(s, d).select("c_name").distinct().orderBy("c_name")
    val enc = distinctSorted.as[String].rdd.zipWithIndex.toDF("c_name", "id")
    enc.orderBy("c_name")
  }

  // ---- joins (O8/O13 generalized: broadcast hash is the reference's only
  // join; we add the full surface: inner/left/semi/anti/outer, sort-merge
  // for fact-fact) ----

  /** Broadcast-hash inner join (DistributedCache pattern, ALS.java:380-383)
    * — dim side explicitly hinted; fact side streams.
    */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")

  /** Star-schema multi-join: lineitem⨝orders (fact-fact, sort-merge/AQE)
    * then snowflake dims broadcast. Revenue per region/nation.
    */
  def joinStarRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name", "n_name")

  /** Left-semi join = EXISTS (the containsKey guard shape of ALS.java:460). */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")

  /** Left-anti join = NOT EXISTS (cold-start complement). The orders side
    * is filtered (no order above 400k) so the result is non-empty at every
    * SF — a 0-row result would make the oracle check trivially true.
    */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")

  /** j11 — null-aware anti join (SQL `NOT IN (subquery)`). NOT EXISTS
    * (j4) is two-valued; NOT IN is three-valued: a NULL probe value
    * never qualifies, and any NULL in the subquery empties the result.
    * Both operand columns are nullable here (the probe genuinely
    * produces NULLs via nullif), so Catalyst plans the single-column
    * form as a broadcast null-aware anti join — the build side ships
    * the subquery's key set plus one "saw a NULL" bit, the probe side
    * never reshuffles. That is the right 100 TB shape: NOT IN over a
    * big fact only works when the subquery side stays broadcast-small;
    * a fact-sized subquery would instead be rewritten to the j4
    * NOT EXISTS form (plain anti join) after an explicit IS NOT NULL
    * guard on both sides.
    */
  def joinNullAwareAnti(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_naaj_customer")
    supplier(s, d).createOrReplaceTempView("graft_naaj_supplier")
    s.sql(
      """SELECT c_custkey, c_nationkey
        |FROM graft_naaj_customer
        |WHERE nullif(c_nationkey, 3) NOT IN
        |      (SELECT s_nationkey FROM graft_naaj_supplier
        |       WHERE s_acctbal < -800)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Left-outer join + null-aware agg. */
  def joinOuterCounts(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count("o_orderkey").as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))
      .orderBy("c_custkey")

  // ---- aggregations ----

  /** TPC-H Q1 shape: filtered scan → wide grouped agg with partial
    * (map-side) aggregation. Filter + column pruning must reach the
    * parquet scan.
    */
  def tpchQ1(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_extendedprice"), 6).as("avg_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** ROLLUP grouping-set aggregation over the dim snowflake. Expressed via
    * spark.sql (the Dataset rollup API trips Spark 4.1's ambiguous-self-join
    * detector when the input is a join — analyzer quirk).
    */
  def rollupAcctbal(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_customer")
    nation(s, d).createOrReplaceTempView("graft_nation")
    region(s, d).createOrReplaceTempView("graft_region")
    s.sql(
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM graft_customer
        |JOIN graft_nation ON c_nationkey = n_nationkey
        |JOIN graft_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** Statistical aggregates: min/max/avg/stddev per group. */
  def statsBySegment(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        round(min("c_acctbal"), 2).as("min_bal"),
        round(max("c_acctbal"), 2).as("max_bal"),
        round(avg("c_acctbal"), 6).as("avg_bal"),
        round(stddev_samp("c_acctbal"), 6).as("sd_bal"))
      .orderBy("c_mktsegment")

  /** Approximate distinct (HLL sketch) alongside the exact count. The
    * sketch value itself has no DuckDB twin, so the oracle-able surface is
    * the exact count plus the sketch's error bound as a boolean: the
    * oracle pins `approx_within_5pct = TRUE`, so a drifting sketch fails
    * the hash gate (the unit test pins the same ±5% band).
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    // rsd=0.01 against a 5% gate: the default rsd (0.05) is ONE standard
    // deviation, so the pinned-TRUE oracle would fail on ~1/3 of datasets
    // with perfectly healthy code; at 5σ the band is deterministic in
    // practice for any dataset.
    // Two SEPARATE aggregates joined 1-row×1-row: mixing a distinct agg
    // with the sketch makes Catalyst's Expand plan carry the ~2^14-register
    // HLL buffer per distinct GROUP in the first stage — measured 5× the
    // cost of running the two aggs apart.
    val approx = lineitem(s, d)
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
    val exact = lineitem(s, d)
      .agg(countDistinct("l_partkey").as("exact_parts"))
    exact.crossJoin(approx)
      .select(
        col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("approx_within_5pct"))
  }

  // ---- windows ----

  /** Top-N per group via row_number (unique tiebreak ⇒ deterministic). */
  def windowTopNPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** Running sum with an explicit ROWS frame over a unique ordering. */
  def windowRunningSum(s: SparkSession, d: String): DataFrame = {
    // l_quantity tiebreaker: the synthetic lineitem contains duplicate
    // (l_orderkey, l_linenumber) rows, so without it the sort is not total
    // and the intermediate running sum at the tied rows is engine-arbitrary
    // (one real collision at sf0.1). With it, ties can only be full-row
    // duplicates, whose running sums are order-invariant.
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(s, d)
      .withColumn("running_qty", round(sum("l_quantity").over(w), 4))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** lag() delta per customer over order date. */
  def windowLagDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(s, d)
      .withColumn("delta", round(col("o_totalprice") - lag("o_totalprice", 1).over(w), 2))
      .select("o_custkey", "o_orderkey", "delta")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- sort / limit / top-k ----

  /** Global top-k: Spark plans TakeOrderedAndProject (per-partition heap +
    * driver merge of k) — no full sort, scales to any input size.
    */
  def topKOrders(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  // ---- set operations ----

  /** UNION / INTERSECT / EXCEPT over nation keys of customers vs suppliers,
    * tagged and stacked so one result pins all three semantics.
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_nationkey").cast("int").as("nk")).distinct()
    val sup = supplier(s, d).select(col("s_nationkey").cast("int").as("nk")).distinct()
    c.intersect(sup).withColumn("op", lit("intersect"))
      .union(c.except(sup).withColumn("op", lit("except")))
      .union(c.union(sup).distinct().withColumn("op", lit("union")))
      .orderBy("op", "nk")
  }

  /** set2 — BAG-semantics set ops (INTERSECT ALL / EXCEPT ALL): unlike
    * set1's distinct forms, multiplicities carry through — the
    * difference between "which customers appear in both halves" and
    * "how many times". Spark plans these as aggregate+generate over
    * per-side counts (no row-by-row matching), which is exactly the
    * min/​difference-of-counts semantics the SQL standard specifies.
    */
  def bagOps(s: SparkSession, d: String): DataFrame = {
    val open = orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
    val urgent = orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_custkey"))
    open.intersectAll(urgent).groupBy("o_custkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      .union(open.exceptAll(urgent).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all")))
      .orderBy("op", "o_custkey")
  }

  /** f8 — regex function surface. Patterns stay inside RE2's subset (no
    * backreferences, no lookaround) so every engine — Java regex here,
    * RE2 in DuckDB, hyperscan elsewhere — agrees; Spark's regexp_count /
    * regexp_replace(all) match DuckDB's len(regexp_extract_all) /
    * regexp_replace(..., 'g').
    */
  def regexFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_name"), "^[a-z]+", 0).as("first_word"),
      expr("regexp_count(p_name, '[aeiou]')").cast("bigint").as("n_vowels"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
      when(col("p_name").rlike("(ss|ee|oo|ll)"), 1).otherwise(0)
        .as("has_double"))
      .orderBy("p_partkey")

  /** f12 — URL decomposition for web-corpus pipelines (the C4/RefinedWeb
    * first step: crawl rows keyed by URL → host / registered domain /
    * TLD / path for per-domain quality and dedup decisions). The
    * documents table has no URL column, so one is DERIVED
    * deterministically from (source, doc_id) — the parsing surface is
    * what's under test, and the per-host rollup is exactly the shape a
    * real crawl's domain-frequency table has. All patterns stay inside
    * the RE2 subset (f8's discipline) so Java, RE2, and hyperscan
    * engines agree; no parse_url (DuckDB lacks it) — the regex IS the
    * cross-engine contract.
    */
  def urlParse(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("source"),
        concat(lit("https://www."), col("source"), lit(".example.org/doc/"),
          col("doc_id"), lit("?ref=crawl")).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "^https?://([^/?#]+)", 1).as("host"),
        regexp_extract(col("url"), "^https?://[^/?#]+(/[^?#]*)", 1).as("path"))
      .select(col("doc_id"), col("host"), col("path"),
        regexp_extract(col("host"), "([^.]+[.][^.]+)$", 1).as("domain"),
        regexp_extract(col("host"), "[.]([^.]+)$", 1).as("tld"))
      .groupBy("host", "domain", "tld")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("path").as("n_paths"))
      .orderBy("host")

  /** f14 — IP parsing + CIDR-block classification (the web-log / crawl
    * enrichment primitive f12's URL surface doesn't cover: bot-range
    * and datacenter-ASN filtering keys on address-block membership).
    * The fixture derives each user's dotted-quad deterministically
    * from user_id (f12's discipline — the operator under test is the
    * PARSE + membership, not the synthesis): the string is split and
    * folded into the 32-bit integer form with codegen'd arithmetic,
    * then classified by a broadcast CIDR table via the prefix rule
    * `ip >> (32−len) = base >> (32−len)` — a bit-shift equi-join, no
    * range explode — and events roll up per block. At 100 TB the
    * block table is O(ASN table) and broadcasts; the only data-sized
    * work is one narrow parse + one hash agg.
    */
  def ipCidrRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withIp = events(s, d).select(col("event_id"), col("user_id"),
      // ×37 spreads the second octet across the whole 10/8 so every
      // block sees traffic at any SF (user ids are dense small ints)
      concat(lit("10."),
        expr("cast((user_id * 37) % 256 as string)"), lit("."),
        expr("cast((user_id div 256) % 256 as string)"), lit("."),
        expr("cast(user_id % 256 as string)")).as("ip"))
    // the genuine parse: dotted-quad string → u32, pure codegen'd
    // split/cast/shift — no UDF
    val parsed = withIp.withColumn("octets", split(col("ip"), "\\."))
      .withColumn("ipnum",
        element_at(col("octets"), 1).cast("long") * 16777216L +
          element_at(col("octets"), 2).cast("long") * 65536L +
          element_at(col("octets"), 3).cast("long") * 256L +
          element_at(col("octets"), 4).cast("long"))
    val blocks = Seq(
      ("10.0.0.0/10", 10L * 16777216L, 10),
      ("10.64.0.0/10", 10L * 16777216L + 64L * 65536L, 10),
      ("10.128.0.0/9", 10L * 16777216L + 128L * 65536L, 9))
      .toDF("cidr", "base", "plen")
    parsed.join(broadcast(blocks),
        expr("shiftright(ipnum, 32 - plen) = shiftright(base, 32 - plen)"))
      .groupBy("cidr")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        min("ipnum").as("min_ip"), max("ipnum").as("max_ip"))
      .orderBy("cidr")
  }

  // ---- scalar functions ----

  /** String function surface. */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      lower(col("p_brand")).as("brand_lower"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      length(col("p_name")).cast("bigint").as("name_len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_name"), " ", "_").as("name_snake"),
      lpad(col("p_size").cast("string"), 4, "0").as("size_pad"))
      .orderBy("p_partkey")

  /** Date/time function surface (UTC session). */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      quarter(col("o_orderdate")).as("qtr"),
      (weekday(col("o_orderdate")) + 1).as("dow_iso"),
      date_add(to_date(col("o_orderdate")), 30).as("plus30"),
      datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).cast("bigint").as("days_since"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_day"))
      .orderBy("o_orderkey")

  /** Math function surface. */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      round(abs(col("c_acctbal")), 6).as("abs_bal"),
      ceil(col("c_acctbal")).as("ceil_bal"),
      floor(col("c_acctbal")).as("floor_bal"),
      round(sqrt(abs(col("c_acctbal"))), 6).as("sqrt_bal"),
      round(log(abs(col("c_acctbal")) + 1), 6).as("ln_bal"),
      round(pow(col("c_acctbal") / 1000.0, 2), 6).as("pow_bal"),
      signum(col("c_acctbal")).cast("int").as("sign_bal"),
      (col("c_custkey") % 7).as("mod7"))
      .orderBy("c_custkey")

  /** Regex field extraction from the JSON-ish events.props payload
    * (get_json_object equivalent, kept regex-based for oracle parity).
    */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("double"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg("k"), 6).as("avg_k"), round(sum("k"), 4).as("sum_k"))
      .orderBy("event_type")

  /** CASE WHEN conditional tiering. */
  def caseTiers(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .withColumn("tier",
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("tier")

  // ---- event-time analytics ----

  /** Hourly tumbling aggregation over event time (batch form of the
    * streaming window — see graft.streaming).
    */
  def eventsHourly(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Time-series gap fill: the hourly aggregation of [[eventsHourly]]
    * with MISSING hours materialized as zero rows, per event_type — what
    * every downstream rolling/forecast computation needs (a rolling mean
    * over a series with silent holes is wrong, not just incomplete).
    * Shape at scale: the dense hour grid is generated from each type's
    * [min, max] span via `sequence` + `explode` — O(types × span) narrow
    * rows, never a data-sized cross join — then one left join back onto
    * the aggregated (not raw) series.
    */
  def eventsGapFill(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .cache() // feeds both the span computation and the final join
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0d)).as("sum_value"))
      .orderBy("event_type", "hour")
  }

  /** Time-series LOCF (last observation carried forward): e4's hour grid
    * with gaps INTERPOLATED from the most recent observed hour instead of
    * zero-filled — the standard forward-fill every metrics backfill uses.
    * One extra window pass over the grid (last_value ignoreNulls with a
    * history-only frame); values are rounded BEFORE the carry so both
    * engines forward identical doubles. Partitioned by series key, so the
    * window shuffles once on event_type and scales with series count.
    */
  def eventsLocf(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .cache() // feeds both the span computation and the final join
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("locf_value", last(col("avg_value"), ignoreNulls = true).over(w))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("locf_value"))
      .orderBy("event_type", "hour")
  }

  /** First/last-touch attribution: each purchase attributed to the FIRST
    * and the LAST preceding touch event (click/view) of the same user —
    * the marketing-attribution primitive. One window pass over the
    * user-ordered event sequence (first/last ignoreNulls over a
    * history-only frame) instead of the naive per-purchase as-of join:
    * everything shuffles once on user_id and the carry is O(1) state per
    * row. Total order (ts, event_id) makes same-timestamp behavior
    * deterministic and oracle-mirrorable.
    */
  def eventsAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .withColumn("touch_id",
        when(col("event_type").isin("click", "view"), col("event_id")))
      .withColumn("first_touch_id", first(col("touch_id"), ignoreNulls = true).over(w))
      .withColumn("last_touch_id", last(col("touch_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("first_touch_id"), col("last_touch_id"))
      .orderBy("purchase_id")
  }

  /** Sessionization via lag + cumulative conditional sum (30-min gap). */
  def eventsSessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag("ms", 1).over(byUser))
      // >= gap starts a new session — matches session_window merge
      // semantics (windows merge only on strict overlap)
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") >= 1800000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Ordered conversion funnel (view → click → purchase): cumulative
    * stage flags via running max over (user, time), then one per-user
    * collapse and one global rollup. All three window passes share a
    * single (user_id) exchange + sort; the per-user agg reuses the same
    * partitioning — the whole funnel is ONE shuffle at any scale.
    */
  def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("seen_view",
        max(when(col("event_type") === "view", 1).otherwise(0)).over(w))
      .withColumn("seen_click",
        max(when(col("event_type") === "click" && col("seen_view") === 1, 1).otherwise(0)).over(w))
      .groupBy("user_id")
      .agg(
        max("seen_view").as("viewed"),
        max("seen_click").as("clicked"),
        max(when(col("event_type") === "purchase" && col("seen_click") === 1, 1).otherwise(0)).as("purchased"))
      .agg(
        count(lit(1)).as("n_users"),
        sum("viewed").cast("bigint").as("n_viewed"),
        sum("clicked").cast("bigint").as("n_clicked"),
        sum("purchased").cast("bigint").as("n_purchased"))
  }

  /** j15 — HYBRID SKEW-SALTED JOIN: the hot-key shuffle-join fix for the
    * one data shape that breaks hash partitioning at 100 TB. A
    * deterministic skew transform (every user_id not divisible by 3
    * collapses to entity 0) makes one key own ~2/3 of the fact — under a
    * plain shuffle join that key's entire mass lands on ONE task while
    * 31 sit idle, and no amount of cluster makes the straggler finish
    * sooner. The operator runs the production recipe end-to-end:
    *
    *  1. DETECT: one aggregated frequency pass; keys owning more than
    *     1/16 of the fact are "hot" (a top-frequency sketch at scale —
    *     the rollup here IS that sketch exactly; its output is
    *     key-cardinality-bounded and broadcasts).
    *  2. SALT hot keys only (the hybrid part — salting everything would
    *     replicate the whole dim ×16): hot fact rows get a uniform salt
    *     in [0,16) from xxhash64(event_id); cold rows salt 0.
    *  3. REPLICATE the dim side ×16 for hot keys only (explode over
    *     sequence(0,15)), ×1 for cold keys, and join on (uid, salt) —
    *     the hot key's mass now spreads over 16 shuffle partitions.
    *
    * AQE's skewedJoin covers sort-merge joins at runtime; explicit
    * salting is the form that also fixes hash-partitioned aggregations
    * and stays deterministic. The declared rollup is salt-independent by
    * construction and fully oracled by replaying the skew mapping + a
    * plain join in DuckDB; RelationalSkewSpec pins the balance (max
    * per-(uid,salt) cell ≤ 1/8 of what the unsalted hot key held).
    */
  def skewSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val S = 16
    val fact = events(s, d).select(
      when(pmod(col("user_id"), lit(3)) =!= 0, lit(0L))
        .otherwise(col("user_id")).as("uid"),
      col("event_id"), col("value"))
    val dim = fact.select("uid").distinct()
      .withColumn("segment", pmod(col("uid"), lit(5)))
    val total = fact.count() // one scalar, drives the hot threshold
    val hot = fact.groupBy("uid").agg(count(lit(1)).as("n"))
      .filter(col("n") > total / S)
      .select(col("uid"), lit(true).as("is_hot"))
    val saltedFact = fact.join(broadcast(hot), Seq("uid"), "left")
      .withColumn("salt",
        when(col("is_hot"), pmod(xxhash64(col("event_id")), lit(S)).cast("int"))
          .otherwise(lit(0)))
      .drop("is_hot")
    val saltedDim = dim.join(broadcast(hot), Seq("uid"), "left")
      .withColumn("salt", explode(
        when(col("is_hot"), sequence(lit(0), lit(S - 1)))
          .otherwise(array(lit(0)))))
      .drop("is_hot")
    saltedFact.join(saltedDim, Seq("uid", "salt"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("segment")
  }

  /** j16 — Spark's BUILT-IN runtime bloom-filter join, declared and
    * plan-pinned (the engine-native sibling of j9's hand-built bloom
    * semi-join): when a selective filter sits on the build side of a
    * shuffle join, `InjectRuntimeFilter` plants a `bloom_filter`
    * aggregate on that side and a `might_contain` predicate on the PROBE
    * side's scan, so probe rows that cannot join are dropped BEFORE the
    * shuffle — at 100 TB that is the difference between shuffling the
    * full fact and shuffling the ~1/5 that survives. The knobs live on
    * their own session (`newSession` shares the SparkContext but not the
    * SQLConf), so forcing the SMJ here never de-optimizes neighboring
    * queries. Broadcast is disabled because a broadcast join would hide
    * the runtime filter this query exists to demonstrate — at real scale
    * the orders side exceeds any broadcast threshold on its own.
    * RelationalPlanSpec pins `might_contain` on the probe side.
    */
  def runtimeBloomJoin(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // test-scale fixtures sit far under the 10GB production default —
    // the plan shape, not the byte count, is what this operator declares
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    lineitem(s, d).join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** j17 — AQE SKEW JOIN, declared and plan-pinned: j15 fixes the
    * hot-key straggler by hand (deterministic salting); this is Spark's
    * RUNTIME fix — `OptimizeSkewedJoin` measures the map-output sizes
    * after the shuffle and splits an oversized partition into
    * advisory-sized sub-reads, each re-reading the (duplicated) other
    * side — no plan change, no salting column, works on any sort-merge
    * join. Same skew fixture as j15 (one key owns ~2/3 of the fact);
    * thresholds are lowered on an isolated session because the
    * production defaults (256 MB) are sized for real clusters, not a
    * test SF — the SHAPE (the SMJ marked skew=true) is what this
    * operator declares, and RelationalPlanSpec pins it. The rollup is
    * fully oracled by replaying the plain join in DuckDB — the
    * split-and-reread must not change a single row.
    */
  /** The skewed fact staged as a 16-FILE table (memoized per dataset
    * fingerprint). Two structural conditions gate AQE\'s splitter, both
    * discovered by probing mapStats: (a) the skewed reduce partition is
    * split at MAPPER-OUTPUT granularity, so a single-map-task source
    * (the one-row-group test parquet under any maxPartitionBytes!)
    * is unsplittable — a real 100 TB fact is thousands of files, and
    * staging 16 gives the splitter 16 units; (b) the dim side must be
    * a plain shuffled scan — a `distinct`-derived dim leaves an
    * Aggregate between shuffle and join and the rule\'s
    * Sort(ShuffleQueryStage) pattern no longer matches either side.
    */
  private def skewFactDir(s: SparkSession, d: String): String =
    Staged.dir(s, "j17_skew_fact", d) {
      val dir = graft.Tables.scratchDir("graft_j17_fact", d)
      events(s, d).select(
        when(pmod(col("user_id"), lit(3)) =!= 0, lit(0L))
          .otherwise(col("user_id")).as("uid"),
        col("value"))
        .repartition(16)
        .write.mode("overwrite").parquet(dir)
      dir
    }

  def aqeSkewJoin(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fact = s.read.parquet(skewFactDir(s, d))
    val dim = customer(s, d).select(col("c_custkey").as("uid"),
      pmod(col("c_custkey"), lit(5)).as("segment"))
    fact.join(dim.hint("merge"), Seq("uid"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("segment")
  }

  // ---- registry ----

  val defs: Seq[QueryDef] = Seq(
    QueryDef("j17_aqe_skew_join", aqeSkewJoin, Some(
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 3 <> 0 THEN 0 ELSE user_id END AS uid,
        |    value
        |  FROM events),
        |dim AS (SELECT c_custkey AS uid, c_custkey % 5 AS segment
        |        FROM customer)
        |SELECT segment, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM f JOIN dim USING (uid)
        |GROUP BY segment ORDER BY segment""".stripMargin)),
    QueryDef("j16_runtime_bloom_join", runtimeBloomJoin, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("j15_skew_salted_join", skewSaltedJoin, Some(
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 3 <> 0 THEN 0 ELSE user_id END AS uid,
        |    value
        |  FROM events),
        |dim AS (SELECT DISTINCT uid, uid % 5 AS segment FROM f)
        |SELECT segment, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM f JOIN dim USING (uid)
        |GROUP BY segment ORDER BY segment""".stripMargin)),
    QueryDef("o1_csv_roundtrip", csvRoundtrip, Some(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("o2_dup_sum", dupSum, Some(
      """SELECT l_suppkey AS user_id, l_partkey AS item_id,
        |  round(sum(l_quantity), 4) AS rating_sum, count(*) AS n_dups
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("o3_entity_counts", entityCounts, Some(
      """SELECT count(*) AS n_rows, count(DISTINCT l_partkey) AS n_items,
        |  count(DISTINCT l_suppkey) AS n_users FROM lineitem""".stripMargin)),
    QueryDef("o4_user_regroup", userRegroup, Some(
      """SELECT l_suppkey AS user_id, count(*) AS n_entries,
        |  min(l_partkey) AS min_item, max(l_partkey) AS max_item,
        |  round(sum(l_quantity), 4) AS total_rating
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("o5_item_avg", itemAvg, Some(
      """SELECT l_partkey AS item_id, round(avg(l_quantity), 6) AS avg_rating
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("o14_rmse_baseline", rmseBaseline, Some(
      """SELECT round(sqrt(avg(pow(l_quantity - pred, 2))), 6) AS rmse
        |FROM (SELECT l_quantity,
        |        avg(l_quantity) OVER (PARTITION BY l_partkey) AS pred
        |      FROM lineitem)""".stripMargin)),
    QueryDef("o15_dict_encode", dictEncode, Some(
      """SELECT c_name, CAST(dense_rank() OVER (ORDER BY c_name) - 1 AS BIGINT) AS id
        |FROM (SELECT DISTINCT c_name FROM customer) ORDER BY c_name""".stripMargin)),
    QueryDef("j1_broadcast_inner", joinBroadcast, Some(
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("j2_star_revenue", joinStarRevenue, Some(
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("j3_semi_exists", joinSemi, Some(
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("j4_anti_not_exists", joinAnti, Some(
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("j11_null_aware_anti", joinNullAwareAnti, Some(
      """SELECT c_custkey, c_nationkey
        |FROM customer
        |WHERE nullif(c_nationkey, 3) NOT IN
        |      (SELECT s_nationkey FROM supplier WHERE s_acctbal < -800)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("j5_outer_counts", joinOuterCounts, Some(
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("a1_tpch_q1", tpchQ1, Some(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("a2_rollup", rollupAcctbal, Some(
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)),
    QueryDef("a3_stats_by_segment", statsBySegment, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal,
        |  round(avg(c_acctbal), 6) AS avg_bal, round(stddev_samp(c_acctbal), 6) AS sd_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("a4_approx_distinct", approxDistinct, Some(
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_within_5pct
        |FROM lineitem""".stripMargin)),
    QueryDef("w1_topn_per_group", windowTopNPerCustomer, Some(
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),
    QueryDef("w2_running_sum", windowRunningSum, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("w3_lag_delta", windowLagDelta, Some(
      """SELECT o_custkey, o_orderkey,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    QueryDef("s1_topk", topKOrders, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("set1_ops", setOps, Some(
      """WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, 'intersect' AS op FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
        |UNION ALL
        |SELECT nk, 'except' AS op FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
        |UNION ALL
        |SELECT nk, 'union' AS op FROM (SELECT nk FROM c UNION SELECT nk FROM s)
        |ORDER BY op, nk""".stripMargin)),
    QueryDef("set2_bag_ops", bagOps, Some(
      """WITH o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |     u AS (SELECT o_custkey FROM orders
        |           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |SELECT o_custkey, count(*) AS n, 'intersect_all' AS op FROM (
        |  SELECT o_custkey FROM o INTERSECT ALL SELECT o_custkey FROM u)
        |GROUP BY 1
        |UNION ALL
        |SELECT o_custkey, count(*) AS n, 'except_all' AS op FROM (
        |  SELECT o_custkey FROM o EXCEPT ALL SELECT o_custkey FROM u)
        |GROUP BY 1
        |ORDER BY op, o_custkey""".stripMargin)),
    QueryDef("f14_ip_cidr", ipCidrRollup, Some(
      // DuckDB re-parses the dotted quad and applies the same prefix
      // rule with its native >> — integer arithmetic end to end
      """WITH ips AS (
        |  SELECT event_id, user_id,
        |    '10.' || ((user_id * 37) % 256) || '.'
        |      || ((user_id // 256) % 256) || '.' || (user_id % 256) AS ip
        |  FROM events),
        |parsed AS (
        |  SELECT event_id, user_id,
        |    CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
        |      + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
        |      + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
        |      + CAST(string_split(ip, '.')[4] AS BIGINT) AS ipnum
        |  FROM ips),
        |blocks(cidr, base, plen) AS (VALUES
        |  ('10.0.0.0/10', CAST(167772160 AS BIGINT), 10),
        |  ('10.64.0.0/10', CAST(171966464 AS BIGINT), 10),
        |  ('10.128.0.0/9', CAST(176160768 AS BIGINT), 9))
        |SELECT cidr, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(min(ipnum) AS BIGINT) AS min_ip,
        |  CAST(max(ipnum) AS BIGINT) AS max_ip
        |FROM parsed JOIN blocks
        |  ON (ipnum >> (32 - plen)) = (base >> (32 - plen))
        |GROUP BY cidr ORDER BY cidr""".stripMargin)),
    QueryDef("f12_url_parse", urlParse, Some(
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.example.org/doc/'
        |      || CAST(doc_id AS VARCHAR) || '?ref=crawl' AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
        |    regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path
        |  FROM u)
        |SELECT host,
        |  regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS domain,
        |  regexp_extract(host, '[.]([^.]+)$', 1) AS tld,
        |  count(*) AS n_docs, count(DISTINCT path) AS n_paths
        |FROM parts GROUP BY 1, 2, 3 ORDER BY host""".stripMargin)),
    QueryDef("f8_regex_funcs", regexFuncs, Some(
      """SELECT p_partkey,
        |  coalesce(regexp_extract(p_name, '^[a-z]+'), '') AS first_word,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT)
        |    AS n_vowels,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  CASE WHEN regexp_matches(p_name, '(ss|ee|oo|ll)') THEN 1 ELSE 0 END
        |    AS has_double
        |FROM part ORDER BY p_partkey""".stripMargin)),
    QueryDef("f1_string_funcs", stringFuncs, Some(
      """SELECT p_partkey, upper(p_name) AS name_upper, lower(p_brand) AS brand_lower,
        |  substr(p_type, 1, 5) AS type_prefix, length(p_name) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  replace(p_name, ' ', '_') AS name_snake,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
        |FROM part ORDER BY p_partkey""".stripMargin)),
    QueryDef("f2_date_funcs", dateFuncs, Some(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom, CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(isodow(o_orderdate) AS INT) AS dow_iso,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso_day
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("f3_math_funcs", mathFuncs, Some(
      """SELECT c_custkey, round(abs(c_acctbal), 6) AS abs_bal,
        |  CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
        |  round(sqrt(abs(c_acctbal)), 6) AS sqrt_bal,
        |  round(ln(abs(c_acctbal) + 1), 6) AS ln_bal,
        |  round(pow(c_acctbal / 1000.0, 2), 6) AS pow_bal,
        |  CAST(sign(c_acctbal) AS INT) AS sign_bal,
        |  c_custkey % 7 AS mod7
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    QueryDef("f4_json_extract", jsonExtract, Some(
      """SELECT event_type, count(*) AS n,
        |  round(avg(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS DOUBLE)), 6) AS avg_k,
        |  round(sum(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS DOUBLE)), 4) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("f5_case_tiers", caseTiers, Some(
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 5000 THEN 'mid'
        |            ELSE 'high' END AS tier,
        |  count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("e1_hourly_agg", eventsHourly, Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("e4_gap_fill", eventsGapFill, Some(
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    count(*) AS n, round(sum(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
        |         FROM spans)
        |SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(coalesce(hh.n, 0) AS BIGINT) AS n,
        |  coalesce(hh.sum_value, 0.0) AS sum_value
        |FROM grid g LEFT JOIN hourly hh ON g.event_type = hh.event_type AND g.h = hh.h
        |ORDER BY 1, 2""".stripMargin)),
    QueryDef("e5_locf_fill", eventsLocf, Some(
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    count(*) AS n, round(avg(value), 4) AS avg_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
        |         FROM spans)
        |SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(coalesce(hh.n, 0) AS BIGINT) AS n,
        |  last_value(hh.avg_value IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        |FROM grid g LEFT JOIN hourly hh ON g.event_type = hh.event_type AND g.h = hh.h
        |ORDER BY 1, 2""".stripMargin)),
    QueryDef("e6_attribution", eventsAttribution, Some(
      """WITH tp AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type IN ('click','view') THEN event_id END AS touch_id
        |  FROM events WHERE event_type IN ('click','view','purchase')),
        |seq AS (
        |  SELECT user_id, event_id, event_type,
        |    first_value(touch_id IGNORE NULLS) OVER w AS first_touch_id,
        |    last_value(touch_id IGNORE NULLS) OVER w AS last_touch_id
        |  FROM tp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id AS purchase_id, first_touch_id, last_touch_id
        |FROM seq WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin)),
    QueryDef("e2_sessionize", eventsSessionize, Some(
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("e3_funnel", eventsFunnel, Some(
      // CAST sums AS BIGINT: DuckDB sum(int) is HUGEINT
      """WITH s1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seen_view
        |  FROM events),
        |s2 AS (
        |  SELECT user_id, event_type, seen_view,
        |    max(CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seen_click
        |  FROM s1),
        |u AS (
        |  SELECT user_id, max(seen_view) AS viewed, max(seen_click) AS clicked,
        |    max(CASE WHEN event_type = 'purchase' AND seen_click = 1 THEN 1 ELSE 0 END) AS purchased
        |  FROM s2 GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(viewed) AS BIGINT) AS n_viewed,
        |  CAST(sum(clicked) AS BIGINT) AS n_clicked,
        |  CAST(sum(purchased) AS BIGINT) AS n_purchased
        |FROM u""".stripMargin))
  )
}
