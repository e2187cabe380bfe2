package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local-mode defaults are tuned for the test harness (local[32], 128 GiB
  * box) but every setting is chosen to also make sense on a real cluster:
  * AQE on (runtime re-plan, skew-join splitting), shuffle partitions sized
  * to cores locally (on a cluster you'd size to 2-3x total cores or let AQE
  * coalesce), UTC session time zone for deterministic date semantics.
  */
object Sessions {

  /** Shared config applied to any session (local or cluster). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // the engine's bucketed writer (Sources.writeBucketed) repartitions
      // on the bucket key before writing, so every bucket holds exactly
      // ONE sorted file — the condition under which a bucketed scan's
      // reported sort order is actually true. With that invariant held,
      // reporting the order lets sort-demanding operators (sort-merge
      // join, the as-of exec) run over bucketed tables with no Sort node
      // at all (pinned in SourcesSpec). Never enable this without the
      // one-file-per-bucket discipline: a multi-file bucket would claim
      // an order it does not have and corrupt merge-join results.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // events.parquet carried TIMESTAMP(NANOS) in early data generations,
      // which the vectorized reader rejects; Tables.events converts the
      // resulting longs. Set once here, never per read.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Partition columns read back as plain strings: the tt stores and
    * day-partitioned scratch stores compare `day` string-to-string.
    */
  val noPartitionInference: (String, String) =
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false"

  /** Run `body` with the session conf keys `kvs` set, then put each key
    * back as it was: its prior value, or unset if it had none (a key
    * that only reads its default is unset, not pinned to the default).
    * Restores when `body` throws. The whole scope holds one reentrant
    * lock per session, so two threads flipping keys on one session
    * serialize instead of interleaving save/restore and leaking a value.
    * A streaming query's batches run on a cloned session with its own
    * lock, so a foreachBatch body never waits on the driver thread that
    * holds the parent session's lock while it awaits the stream.
    */
  def withConf[T](s: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val conf = s.conf
    conf.synchronized {
      val prior = conf.getAll
      kvs.foreach { case (k, v) => conf.set(k, v) }
      try body finally resetConf(s, prior, kvs.map(_._1).distinct)
    }
  }

  /** Run `body` with this thread's Spark jobs described as `description`,
    * then put the prior description back, even when `body` throws. The
    * job group, which tracers attribute jobs by, is left alone.
    */
  def withJobDescription[T](s: SparkSession, description: String)(body: => T): T = {
    val sc = s.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty("spark.job.description", prior)
  }

  /** Keys whose value differs between two `conf.getAll` snapshots. */
  def changedKeys(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.filter(k => before.get(k) != after.get(k))

  /** Put `keys` back as a `conf.getAll` snapshot had them: its value, or
    * unset where the snapshot lacks the key.
    */
  def resetConf(s: SparkSession, snapshot: Map[String, String], keys: Seq[String]): Unit =
    keys.foreach { k =>
      snapshot.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None    => s.conf.unset(k)
      }
    }

  /** Run one declared query's `body`; if it left the conf changed, print
    * `[tag] name leaked conf: k=v, …` to stderr and put the snapshot back.
    * Returns the body's value and whether it leaked.
    */
  def leakChecked[T](s: SparkSession, tag: String, name: String)(body: => T): (T, Boolean) = {
    val before = s.conf.getAll
    val out = body
    val after = s.conf.getAll
    val leaked = changedKeys(before, after)
    if (leaked.nonEmpty) {
      System.err.println(s"[$tag] $name leaked conf: " +
        leaked.map(k => s"$k=${after.getOrElse(k, "<unset>")}").mkString(", "))
      resetConf(s, before, leaked)
    }
    (out, leaked.nonEmpty)
  }

  /** Local session for tests / CLIs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
