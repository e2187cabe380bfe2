package perfbench

import scala.util.Random

import org.apache.spark.sql.Row

/** Read-only, oracled relational and analytics queries: one per family
  * (a e j f q w dq ts set u prof s), in an order the seed sets, after an
  * untimed warm-up pass as in a long-lived analytics session. Families
  * that register views, write, stream, memoize or stage are left out,
  * because a repeat would time a different or a cached plan.
  */
object QueryMix extends Part {
  val queries: Seq[String] = Seq(
    "a9_bivariate_stats", "e20_ab_test", "j12_asof_native", "f3_math_funcs",
    "q1_correlated_subquery", "w1_topn_per_group", "dq9_l_diversity",
    "ts1_ewma", "set1_ops", "u2_salted_agg", "prof2_key_skew", "s1_topk")

  private val warm = scala.collection.mutable.Map.empty[String, Int]
  private val timed = scala.collection.mutable.Map.empty[String, Set[Int]]

  /** Order-insensitive fingerprint of a result. */
  def fingerprint(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toString))

  private def fn(name: String) = graft.SparkEntry.queries(name)

  /** Runs every query once and writes its result, column names and the
    * query's DuckDB oracle to `results.json` for the oracle check.
    */
  override def prepare(ctx: Ctx): Unit = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = json.createObjectNode()
    queries.foreach { q =>
      val df = fn(q)(ctx.spark, ctx.data)
      val rows = df.collect()
      warm(q) = fingerprint(rows)
      val node = root.putObject(q)
      node.put("oracle", graft.SparkEntry.oracleSql(q))
      val cols = node.putArray("columns")
      df.columns.foreach(cols.add)
      val out = node.putArray("rows")
      rows.foreach { r =>
        val a = out.addArray()
        r.toSeq.foreach {
          case null => a.addNull()
          case v: Long => a.add(v)
          case v: Int => a.add(v)
          case v: Double => a.add(v)
          case v: Float => a.add(v)
          case v: String => a.add(v)
          case v: Boolean => a.add(v)
          case v => a.add(v.toString)
        }
      }
    }
    json.writeValue(new java.io.File(s"${ctx.data}/results.json"), root)
  }

  def pass(ctx: Ctx): Unit = {
    val order = new Random(ctx.seed).shuffle(queries)
    ctx.info("order") = order
    order.foreach { q =>
      val rows = ctx.op("ops", q)(fn(q)(ctx.spark, ctx.data).collect())
      timed(q) = timed.getOrElse(q, Set.empty) + fingerprint(rows)
    }
  }

  /** Every timed result must equal the warm-up result that the DuckDB
    * oracle checks afterwards.
    */
  def verify(ctx: Ctx): Unit = queries.foreach { q =>
    val seen = timed.getOrElse(q, Set.empty)
    ctx.check(s"mix.$q.repeatable", seen == Set(warm(q)),
      s"${seen.size} distinct timed results, warm-up result among them: ${seen(warm(q))}")
  }
}
