package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  * One parquet file per table under `sfDir`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")

  /** events.parquet's `ts` physical type has changed across driver data
    * generations: TIMESTAMP(NANOS) originally (Spark's vectorized reader
    * rejects it — Sessions.configure sets `nanosAsLong`, so it reads as
    * long and converts with exact integer `div`),
    * plain TIMESTAMP(MICROS) since the round-7 regen (reads as
    * TIMESTAMP_NTZ under inferTimestampNTZ). Normalize BOTH to session-TZ
    * TIMESTAMP so every downstream operator and oracle sees one type; the
    * session runs UTC (Sessions.configure), so the NTZ→LTZ cast is
    * wall-clock-identity.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Collision-free scratch tag for a dataset dir: sanitized basename plus
    * a short hash of the FULL path. Scratch dirs / table names derived from
    * the basename alone would silently collide for two datasets named e.g.
    * `sf0.1` under different parents — the second overwrites the first's
    * staged data while memoized readers still point at it.
    */
  def scratchTag(d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    val base = new java.io.File(abs).getName.replaceAll("[^A-Za-z0-9]", "_")
    f"${base}_${scala.util.hashing.MurmurHash3.stringHash(abs) & 0xffffffffL}%08x"
  }

  def scratchDir(prefix: String, d: String): String = s"/tmp/${prefix}_${scratchTag(d)}"

  /** Cheap content fingerprint of a dataset dir: murmur over the sorted
    * (name, size, mtime) listing. [[graft.engine.Staged]] keys every
    * JVM-lifetime memo on it so a dataset REGENERATED IN PLACE — the
    * round-7 events.parquet schema change was exactly this — invalidates
    * the memo instead of silently serving a stale model fit or an index
    * built over the old rows. Pure directory
    * metadata: no file contents are read, so the walk is O(file count)
    * stat calls (~tens per sf dir) and safe to run per query call.
    */
  def datasetFingerprint(d: String): String = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else Seq(f)
    val root = new java.io.File(d).getAbsoluteFile.toPath
    // path RELATIVE to the dataset root, not basename: same-named files
    // in different subdirectories must not collapse to one signature.
    // Caveat: a swap-in copy that preserves sizes AND mtimes still
    // fingerprints identically — mtime is the staleness signal here.
    val sig = files(root.toFile)
      .map(f => s"${root.relativize(f.getAbsoluteFile.toPath)}:${f.length}:${f.lastModified}")
      .sorted.mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(sig) & 0xffffffffL}%08x"
  }
}

/** One declared engine operator: a Spark query plus (when SQL-expressible)
  * an equivalent DuckDB oracle over the same tables. Modules expose
  * `Seq[QueryDef]`; SparkEntry aggregates them into the driver contract.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    // staged = the query consumes a memoized on-disk index/codebook whose
    // one-time build is NOT the operator's per-query cost: Bench runs such
    // a query once untimed (building the staging) and times the second,
    // steady-state run, recording the untimed pass in a separate
    // `staging` field — the committed record then reads serving cost, not
    // whichever query happened to build the shared index that day.
    staged: Boolean = false)
