package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.TtCatalog

/** Row-level SQL writes on one tt table: CTAS, then a fixed number of
  * rounds of MERGE, UPDATE, DELETE, INSERT and a head aggregate read, then
  * one `VERSION AS OF` read of the table as created. No OPTIMIZE: it
  * refuses snapshots that carry deletion vectors, so reads slow as the log
  * grows and the round count is part of the workload.
  */
object LakeDml extends Part {
  private val aggSql = "SELECT event_type, count(*) AS n, sum(cents) AS s FROM %s GROUP BY event_type"

  /** Per round: the head version after it and the head aggregate read. */
  private val recorded = mutable.ArrayBuffer.empty[(Int, Map[String, (Long, Long)])]
  private var passes = 0
  private var table = ""
  private var loc = ""
  private var ctasVersion = 0

  private def agg(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def headVersion(dir: String): Int =
    new java.io.File(s"$dir/_log").list().toSeq
      .collect { case s if s.matches("v\\d+\\.txt") => s.drop(1).dropRight(4).toInt }.max

  private def bytes(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(bytes).sum else f.length

  override def prepare(ctx: Ctx): Unit = {
    TtCatalog.install(ctx.spark)
    ctx.spark.read.parquet(s"${ctx.data}/base.parquet").createOrReplaceTempView("pb_base")
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rounds = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${ctx.data}/lake_rounds.json"))
      .get("rounds").elements().asScala.toSeq
    // each pass is a fresh table, so every pass replays the same history
    if (table.nonEmpty) spark.sql(s"DROP TABLE $table")
    table = s"tt.pb_events_$passes"
    loc = s"${ctx.data}/lake/pass$passes"
    passes += 1
    recorded.clear()
    ctx.op("lake", "ctas") {
      spark.sql(s"CREATE TABLE $table USING parquet LOCATION '$loc' AS SELECT * FROM pb_base")
    }
    val ctasBytes = bytes(new java.io.File(loc))
    ctasVersion = headVersion(loc)
    rounds.zipWithIndex.foreach { case (r, i) =>
      spark.read.parquet(s"${ctx.data}/merge_$i.parquet").createOrReplaceTempView("pb_merge")
      spark.read.parquet(s"${ctx.data}/insert_$i.parquet").createOrReplaceTempView("pb_insert")
      ctx.op("lake", "merge") {
        spark.sql(s"""MERGE INTO $table t USING pb_merge s ON t.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      }
      ctx.op("lake", "update") {
        spark.sql(s"UPDATE $table SET cents = cents + ${r.get("update_add").asLong} " +
          s"WHERE event_type = '${r.get("update_type").asText}' " +
          s"AND event_id % ${r.get("update_mod").asLong} = ${r.get("update_rem").asLong}")
      }
      ctx.op("lake", "delete") {
        spark.sql(s"DELETE FROM $table WHERE event_id % ${r.get("delete_mod").asLong} = " +
          s"${r.get("delete_rem").asLong}")
      }
      ctx.op("lake", "insert")(spark.sql(s"INSERT INTO $table SELECT * FROM pb_insert"))
      val head = ctx.op("lake", "read")(spark.sql(aggSql.format(table)).collect())
      recorded += ((headVersion(loc), agg(head)))
    }
    val created = agg(ctx.op("lake", "timetravel") {
      spark.sql(aggSql.format(s"$table VERSION AS OF $ctasVersion")).collect()
    })
    def asJson(a: Map[String, (Long, Long)]) = a.map { case (k, (n, s)) => k -> Seq(n, s) }
    ctx.info("lake_rounds") = recorded.map { case (v, a) => Map("version" -> v, "agg" -> asJson(a)) }
    ctx.info("lake_ctas") = Map("version" -> ctasVersion, "agg" -> asJson(created))
    ctx.info("store_bytes_ctas") = ctasBytes
    ctx.info("store_bytes_end") = bytes(new java.io.File(loc))
  }

  /** Each round's head read against its `VERSION AS OF` read; the
    * caller compares the head reads and the timed `VERSION AS OF` read of
    * the created table with the benchmark's own replay of the changes.
    */
  def verify(ctx: Ctx): Unit = {
    recorded.foreach { case (v, want) =>
      val got = agg(ctx.spark.sql(aggSql.format(s"$table VERSION AS OF $v")).collect())
      ctx.check(s"lake.version_as_of_$v", got == want, s"VERSION AS OF $v: $got, recorded $want")
    }
    val files = new java.io.File(loc).listFiles().toSeq
    def count(fs: Seq[java.io.File], p: java.io.File => Boolean): Int =
      fs.map(f => if (f.isDirectory) count(f.listFiles().toSeq, p) else if (p(f)) 1 else 0).sum
    ctx.info("data_files") = count(files.filterNot(_.getName.startsWith("_")),
      _.getName.endsWith(".parquet"))
    ctx.info("dv_files") = count(files.filter(_.getName == "_dv"), !_.getName.startsWith("."))
  }
}
