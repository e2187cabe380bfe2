package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to named queries (builder-local use;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared Sessions.configure: Verify and Bench must run the same flags
    val spark = graft.engine.Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // queries install the tt catalog on demand; install it up front so
    // the leak check below sees only conf a query failed to scope
    graft.sources.TtCatalog.install(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val (_, leaked) = graft.engine.Sessions.leakChecked(spark, "verify", name) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache() // intra-query caches are dead past the sink
      }
      // a query that leaves session conf changed fails its line: its
      // output is dropped, so the oracle compare reports it
      if (leaked) {
        val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
