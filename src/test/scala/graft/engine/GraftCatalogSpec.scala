package graft.engine

import graft.SparkSpec

/** The SQL front-end must answer the engine's own declared queries: for
  * dialect-shared oracle SQL, `spark.sql(<oracle verbatim>)` over the
  * registered views must return exactly what the DataFrame form returns
  * (which the driver separately hash-checks against DuckDB — so SQL
  * surface ≡ DataFrame surface ≡ oracle).
  */
class GraftCatalogSpec extends SparkSpec {

  // ANSI-portable oracle strings (no ::casts, no DuckDB list functions)
  private val shared = Seq(
    "a1_tpch_q1", "j2_star_revenue", "j4_anti_not_exists", "set1_ops")

  test("spark.sql over registered views matches the DataFrame form verbatim") {
    GraftCatalog.register(spark, sf0001)
    for (name <- shared) {
      val sql = graft.SparkEntry.oracleSql(name)
      val viaSql = spark.sql(sql).collect().map(_.toSeq).toSeq
      val viaDf = graft.SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toSeq).toSeq
      assert(viaSql == viaDf, s"$name: SQL result diverges from DataFrame result")
    }
  }

  test("every test table is queryable by name after register") {
    GraftCatalog.register(spark, sf0001)
    for (t <- graft.Tables.names)
      assert(spark.sql(s"SELECT * FROM $t LIMIT 1").collect().length == 1, t)
  }

  test("ANALYZE column stats flip the filtered join from shuffle to broadcast") {
    // CBO discrimination test: same query, same confs — the ONLY delta is
    // ANALYZE. Threshold sits between the filtered side's stats-based
    // estimate (top price sliver, ~0.1% of orders) and the full-table size both sides carry
    // without stats, so the plan flip is attributable to statistics alone.
    // sparkPlan (pre-AQE) is inspected: AQE's runtime size observation
    // would mask the compile-time CBO decision this pins.
    val t = GraftCatalog.registerPersistent(spark, sf0001, Seq("orders", "customer"))
    graft.engine.Sessions.withConf(spark)("spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      def planOf: String = spark.sql(
        s"""SELECT c_mktsegment, count(*) AS n
           |FROM ${t("orders")} JOIN ${t("customer")} ON o_custkey = c_custkey
           |WHERE o_totalprice > 499000
           |GROUP BY c_mktsegment""".stripMargin)
        .queryExecution.sparkPlan.toString
      val noStats = planOf
      assert(!noStats.contains("BroadcastHashJoin"),
        s"without stats both sides should exceed the 1 KB threshold:\n$noStats")
      spark.sql(s"ANALYZE TABLE ${t("orders")} COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE ${t("orders")} COMPUTE STATISTICS FOR COLUMNS o_totalprice")
      spark.sql(s"ANALYZE TABLE ${t("customer")} COMPUTE STATISTICS")
      val withStats = planOf
      assert(withStats.contains("BroadcastHashJoin"),
        s"column stats did not shrink the filtered side below threshold:\n$withStats")
    }
  }

  test("persistent catalog survives a new session and DROP/re-CREATE round-trips") {
    val want = GraftCatalog.persistentCatalogSql(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val tbl = GraftCatalog.persistentName(sf0001, "supplier")

    // a NEW session shares only the external catalog: temp views vanish,
    // metastore tables remain — the proof these are not session state
    val fresh = spark.newSession()
    fresh.sql("SELECT 1").collect() // session is live
    assert(fresh.catalog.tableExists(tbl),
      s"$tbl not visible from a fresh session — not actually persistent")
    spark.range(1).createOrReplaceTempView("graft_tmp_probe")
    assert(!fresh.catalog.tableExists("graft_tmp_probe"),
      "temp view leaked across sessions — the persistence test proves nothing")

    // verbatim SQL from the fresh session against the persistent tables
    val t = Seq("supplier", "nation", "region")
      .map(n => n -> GraftCatalog.persistentName(sf0001, n)).toMap
    val viaFresh = fresh.sql(
      s"""SELECT r_name, count(*) AS n_suppliers,
         |  round(sum(s_acctbal), 2) AS total_bal
         |FROM ${t("supplier")}
         |JOIN ${t("nation")} ON s_nationkey = n_nationkey
         |JOIN ${t("region")} ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(viaFresh == want)

    // DROP / re-CREATE round-trip: deterministic state, identical answer
    spark.sql(s"DROP TABLE $tbl")
    assert(!spark.catalog.tableExists(tbl))
    val again = GraftCatalog.persistentCatalogSql(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(again == want)
  }
}
