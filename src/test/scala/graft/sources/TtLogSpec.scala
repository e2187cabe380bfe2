package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec
import graft.ops.Mutations

class TtLogSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def events = graft.Tables.events(spark, sf0001)
    .select(col("event_id"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))

  private def shifted(mod: Int, by: Long) =
    events.filter(col("event_id") % mod === 0)
      .withColumn("event_id", col("event_id") + lit(by))

  /** A store whose log holds every line kind: v0-v9 appends (checkpoints at
    * v4 and v8), a DV delete and its compaction, an idempotent txn append,
    * add/drop constraint, rename/add/drop column, a restore that writes
    * `schemareset` and `constraintreset`, and a second txn append (the
    * checkpoints at v12, v16 and v20 fold txn, constraint and schema rows).
    */
  private lazy val store: String = {
    val dir = s"${tmp("graft_ttlog_store")}/store"
    Mutations.ttBuildManyCommits(spark, sf0001, dir)
    Mutations.ttDvDelete(spark, TtLog.list(spark, dir), "dv10", pmod(col("event_id"), lit(23)) === 0)
    Mutations.ttDvCompact(spark, TtLog.list(spark, dir), "c11")
    assert(Mutations.ttIdempotentAppend(spark, dir, shifted(17, 5000000000L), "spec#1"))
    assert(!Mutations.ttIdempotentAppend(spark, dir, shifted(17, 5000000000L), "spec#1"))
    Mutations.ttAddConstraint(spark, TtLog.list(spark, dir), "pos", "event_id >= 0")
    Mutations.ttRenameColumn(spark, TtLog.list(spark, dir), "cents", "amount")
    Mutations.ttAddColumn(spark, TtLog.list(spark, dir), "note", StringType)
    Mutations.ttDropColumn(spark, TtLog.list(spark, dir), "note")
    Mutations.ttDropConstraint(spark, TtLog.list(spark, dir), "pos")
    Mutations.ttAddConstraint(spark, TtLog.list(spark, dir), "typed", "event_type IS NOT NULL")
    Mutations.ttRestore(spark, TtLog.list(spark, dir), target = 9)
    assert(Mutations.ttIdempotentAppend(spark, dir, shifted(19, 6000000000L), "spec#2"))
    dir
  }

  private def logText(dir: String): Seq[String] =
    Files.list(Paths.get(dir, "_log")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".txt"))
      .flatMap(p => Files.readAllLines(p).asScala)

  test("every version: the checkpointed resolution equals a log-only replay; survivors and write candidates agree with it") {
    val head = TtLog.head(spark, store)
    assert(head == 20)
    val text = logText(store)
    Seq("a ", "r ", "# stat=", "# rename=", "# addcolumn=", "# dropcol=", "# schemareset=",
      "# constraint=", "# dropconstraint=", "# constraintreset=", "# txn=", "# op=", "# ts=")
      .foreach(k => assert(text.exists(_.startsWith(k)), s"no '$k' line in the log"))
    // the same commits with every checkpoint deleted
    val copy = tmp("graft_ttlog_nockpt")
    Files.createDirectories(Paths.get(copy, "_log"))
    Files.list(Paths.get(store, "_log")).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".txt") && !p.getFileName.toString.startsWith("."))
      .foreach(p => Files.copy(p, Paths.get(copy, "_log", p.getFileName.toString)))
    val checkpoints = Seq(4, 8, 12, 16, 20)
    def opened(v: Int) = checkpoints.filter(_ <= v).lastOption.fold(v + 1)(c => 1 + v - c)
    val survivorsAt = Set(4, 5, 6, 7, 8, 9, 12, 13, 20)
    val relationAt = Set(4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 20)
    (0 to head).foreach { v =>
      val r = Mutations.ttResolve(spark, store, v)
      val full = Mutations.ttResolve(spark, copy, v)
      assert(r.live == full.live, s"v$v live")
      assert(r.stats.filter(e => r.live.contains(e._1)) ==
        full.stats.filter(e => full.live.contains(e._1)), s"v$v stats")
      assert(r.schemaOps == full.schemaOps, s"v$v schemaOps")
      assert(r.txns == full.txns, s"v$v txns")
      assert(r.constraints == full.constraints, s"v$v constraints")
      assert(r.opened == opened(v), s"v$v opened ${r.opened}")
      assert(full.opened == v + 1, s"v$v log-only opened ${full.opened}")
      val (dv, data) = r.live.partition(Mutations.ttIsDv)
      val surv = Mutations.ttCheckpointSurvivors(spark, TtLog.list(spark, store), v, None)
      assert(surv.isDefined == survivorsAt(v), s"v$v survivors ${surv.isDefined}")
      surv.foreach { case (files, n) =>
        assert(files == data.map(f => f -> r.stats(f)), s"v$v survivors")
        assert(n == opened(v), s"v$v survivors opened $n")
      }
      val cand = Mutations.ttWriteCandidates(spark, TtLog.list(spark, store), v)
      assert(cand.viaRelation == relationAt(v), s"v$v candidates via relation ${cand.viaRelation}")
      assert(cand.dv == dv && cand.data == data, s"v$v candidates")
      if (cand.viaRelation) assert(cand.opened == opened(v), s"v$v candidates opened ${cand.opened}")
    }
    // the log states the spec means to cover
    assert(Mutations.ttResolve(spark, store, 10).live.exists(Mutations.ttIsDv))
    assert(Mutations.ttResolve(spark, store, 16).schemaOps ==
      Seq("rename=cents|amount", s"addcolumn=note|${StringType.json}", "dropcol=note"))
    assert(Mutations.ttResolve(spark, store, 17).constraints.isEmpty)
    assert(Mutations.ttResolve(spark, store, 18).constraints.keySet == Set("typed"))
    val restored = Mutations.ttResolve(spark, store, 19)
    assert(restored.schemaOps.isEmpty && restored.constraints.isEmpty)
    assert(restored.live == Mutations.ttResolve(spark, store, 9).live)
    assert(Mutations.ttResolve(spark, store, 20).txns == Set("spec#1", "spec#2"))
  }

  test("write candidates' replay fallback reports the log files it opened") {
    // v0-v9 of the store are the many-commit store; v3 has no checkpoint
    val cand = Mutations.ttWriteCandidates(spark, TtLog.list(spark, store), 3)
    assert(!cand.viaRelation)
    assert(cand.opened == 4, s"opened ${cand.opened}")
  }

  test("checkpoint relation: a file removed, re-added and removed again inside one suffix is dead") {
    val dir = tmp("graft_ttlog_readd")
    val log = Paths.get(dir, "_log")
    Files.createDirectories(log)
    def commit(v: Int, lines: String*): Unit =
      Files.writeString(log.resolve(s"v$v.txt"), (s"# ts=$v" +: lines).mkString("\n"))
    val (f1, f2) = ("day=2024-01-01/f1.parquet", "day=2024-01-01/f2.parquet")
    commit(0, s"# stat=$f1|3|1|3", s"# stat=$f2|2|4|5", s"a $f1", s"a $f2")
    (1 to 4).foreach(v => commit(v))
    Mutations.ttWriteCheckpoint(spark, dir, 4)
    commit(5, s"r $f1")
    commit(6, s"# stat=$f1|3|1|3", s"a $f1")
    commit(7, s"r $f1")
    assert(Mutations.ttResolve(spark, dir, 7).live == Seq(f2))
    val surv = Mutations.ttCheckpointSurvivors(spark, TtLog.list(spark, dir), 7, None)
    assert(surv.map(_._1.map(_._1)).contains(Seq(f2)), surv.toString)
    val cand = Mutations.ttWriteCandidates(spark, TtLog.list(spark, dir), 7)
    assert(cand.viaRelation && cand.data == Seq(f2), cand.toString)
  }

  test("source lint: the tt log's file names and commit lines are read only in TtLog") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val forms = Seq(
      "v\\\\d+", "ckpt-v", "stripPrefix(\"v\")", "split(\"/v\")", "v*.txt",
      "startsWith(\"a \")", "startsWith(\"r \")", "startsWith(\"# ", "stripPrefix(\"# ",
      "\"#schema:", "\"#txn:", "\"#constraint:")
    val spelled = "v\\$\\{?\\w+\\}?\\.txt".r
    val offenders = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("sources/TtLog.scala")))
      .flatMap { p =>
        Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
          .split("\n").toSeq
          .filter(l => forms.exists(l.contains) || spelled.findFirstIn(l).isDefined)
          .map(l => s"$p: reads the tt log by hand (use graft.sources.TtLog): ${l.trim}")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Run `body` with the `countfs` scheme registered, then unregister it. */
  private def withCountFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[CountFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.countfs.impl")
      hc.unset("fs.countfs.impl.disable.cache")
    }
  }

  /** The counted-traffic store on the `countfs` scheme, built by SQL DML
    * and the other writers, with each statement's (listStatus, open) calls
    * under `_log`.
    */
  private lazy val traffic: (String, Seq[(String, (Int, Int))]) = {
    val name = "ttlog_traffic"
    val loc = s"countfs://${tmp("graft_ttlog_traffic")}/store"
    events.createOrReplaceTempView("ttlog_base")
    val counts = withCountFs {
      TtCatalog.tables.remove(name)
      def counted(label: String)(stmt: => Unit): (String, (Int, Int)) = {
        CountFs.reset()
        stmt
        label -> (CountFs.lists.get, CountFs.opens.get)
      }
      val agg = s"SELECT event_type, count(*) AS n, sum(cents) AS s FROM %s GROUP BY event_type"
      try {
        val ctas = counted("ctas")(spark.sql(
          s"CREATE TABLE tt.$name USING parquet LOCATION '$loc' AS SELECT * FROM ttlog_base"))
        val created = TtLog.head(spark, loc)
        val rounds = (1 to 2).flatMap { r =>
          shifted(7, 0L).withColumn("cents", col("cents") + lit(r.toLong))
            .unionByName(shifted(29, r * 9000000000L))
            .createOrReplaceTempView("ttlog_merge")
          shifted(31, r * 8000000000L).createOrReplaceTempView("ttlog_insert")
          Seq(
            counted(s"merge$r")(spark.sql(s"""MERGE INTO tt.$name t USING ttlog_merge s
              ON t.event_id = s.event_id
              WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")),
            counted(s"update$r")(spark.sql(s"UPDATE tt.$name SET cents = cents + 3 " +
              s"WHERE event_type = 'click' AND event_id % 5 = $r")),
            counted(s"delete$r")(spark.sql(s"DELETE FROM tt.$name WHERE event_id % 13 = $r")),
            counted(s"insert$r")(spark.sql(s"INSERT INTO tt.$name SELECT * FROM ttlog_insert")),
            counted(s"read$r")(spark.sql(agg.format(s"tt.$name")).collect()))
        }
        // src32 on a version no checkpoint covers, and the table summary
        assert(created < Mutations.ttCheckpointInterval)
        val skipping = counted("skipping_read")(
          Mutations.ttSkippingRelation(spark, loc, created, Some((0L, Long.MaxValue))))
        val detail = counted("describe_detail")(spark.sql(s"DESCRIBE DETAIL tt.$name").collect())
        val asOf = counted("version_as_of")(
          spark.sql(agg.format(s"tt.$name VERSION AS OF $created")).collect())
        // the writers that commit through the one loop outside SQL DML
        val batch = shifted(37, 7000000000L)
        val append = counted("append_fresh")(
          assert(Mutations.ttIdempotentAppend(spark, loc, batch, "traffic#1")))
        val replay = counted("append_replay")(
          assert(!Mutations.ttIdempotentAppend(spark, loc, batch, "traffic#1")))
        // a three-version bronze: two appends, then a DV delete
        val (bronze, silver) = (s"countfs://${tmp("graft_ttlog_bronze")}/store",
          s"countfs://${tmp("graft_ttlog_silver")}/store")
        Seq(41, 43).foreach(m => assert(Mutations.ttIdempotentAppend(spark, bronze,
          shifted(m, m * 100000000L), s"bronze#$m")))
        Mutations.ttDvDelete(spark, TtLog.list(spark, bronze), "dv2", col("event_id") % 2 === 0)
        TtCatalog.register(s"${name}_bronze", bronze)
        TtCatalog.register(s"${name}_silver", silver)
        val apply = counted("apply_changes")(spark.sql(
          s"APPLY CHANGES INTO tt.${name}_silver FROM tt.${name}_bronze").collect())
        (ctas +: rounds) ++ Seq(skipping, detail, asOf, append, replay, apply)
      } finally Seq("", "_bronze", "_silver").foreach(x => TtCatalog.tables.remove(name + x))
    }
    (loc, counts)
  }

  test("SQL DML on a tt table lists and opens its _log no more often than before") {
    // (listStatus, open) calls under _log per statement, measured once
    // every tt verb read its base and committed through the one listing
    // of its ttOcc attempt; round 2 runs over ckpt-v4
    val bound = Map(
      "ctas" -> (3, 4), "version_as_of" -> (2, 4),
      "merge1" -> (2, 6), "update1" -> (2, 9), "delete1" -> (6, 13),
      "insert1" -> (3, 1), "read1" -> (2, 2),
      "merge2" -> (3, 5), "update2" -> (3, 8), "delete2" -> (7, 12),
      "insert2" -> (3, 1), "read2" -> (2, 2),
      "skipping_read" -> (1, 2), "describe_detail" -> (1, 2),
      "append_fresh" -> (1, 2), "append_replay" -> (1, 2), "apply_changes" -> (7, 15))
    val (loc, counts) = traffic
    info(counts.map { case (k, (l, o)) => s"$k=$l/$o" }.mkString(" "))
    assert(TtLog.head(spark, loc.stripPrefix("countfs://")) > 4)
    val over = counts.filter { case (k, (l, o)) =>
      bound.get(k).forall { case (bl, bo) => l > bl || o > bo }
    }
    assert(over.isEmpty, s"over the bound: ${over.mkString(", ")}")
  }

  test("a tt verb handed a listing touches _log only to write a checkpoint") {
    val (loc, _) = traffic
    val base = TtLog.head(spark, loc.stripPrefix("countfs://"))
    def verb(name: String)(run: TtLog.Listing => Any) = name -> run
    val verbs = Seq(
      verb("merge")(Mutations.ttMergeInto(spark, _, shifted(11, 0L), "vm")),
      verb("delete")(Mutations.ttDvDelete(spark, _, "vd", col("event_id") % 19 === 0)),
      verb("update")(Mutations.ttDvUpdate(spark, _, "vu", col("event_id") % 23 === 0,
        Seq("cents" -> (col("cents") + lit(1L))))),
      verb("dv_compact")(Mutations.ttDvCompact(spark, _, "vc")),
      verb("optimize")(l => assert(Mutations.ttOptimize(spark, l, "vo"))),
      verb("optimize_clustered")(l =>
        assert(Mutations.ttOptimizeClustered(spark, l, "vz", filesPerDay = 2))),
      verb("add_constraint")(Mutations.ttAddConstraint(spark, _, "pos", "event_id >= 0")),
      verb("drop_constraint")(Mutations.ttDropConstraint(spark, _, "pos")),
      verb("add_column")(Mutations.ttAddColumn(spark, _, "note", StringType)),
      verb("rename_column")(Mutations.ttRenameColumn(spark, _, "cents", "amount")),
      verb("mapped_append")(Mutations.ttMappedAppend(spark, _, "vma",
        shifted(13, 9500000000L).withColumnRenamed("cents", "amount"))),
      verb("drop_column")(Mutations.ttDropColumn(spark, _, "note")),
      verb("restore")(Mutations.ttRestore(spark, _, target = base)))
    // listings of the _log dir itself per verb (a Spark read of a
    // checkpoint file lists that file, not the log)
    val counts = withCountFs {
      verbs.map { case (verb, run) =>
        val log = TtLog.list(spark, loc)
        CountFs.reset()
        run(log)
        val n = CountFs.logDirLists.get
        assert(TtLog.head(spark, loc) == log.next, s"$verb did not commit at ${log.next}")
        (verb, log.next, n)
      }
    }
    info(counts.map { case (k, v, n) => s"$k@v$v=$n" }.mkString(" "))
    assert(counts.map(_._2) == (base + 1 to base + verbs.size))
    assert(counts.exists(_._2 % Mutations.ttCheckpointInterval == 0))
    val over = counts.filter { case (_, v, n) =>
      n > (if (v % Mutations.ttCheckpointInterval == 0) 1 else 0)
    }
    assert(over.isEmpty, s"listed _log beyond a checkpoint write: ${over.mkString(", ")}")
  }

  test("source lint: only TtLog.Listing.next adds one to a head") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val plusOne = "head(\\([^)]*\\))?\\s*\\+\\s*1\\b".r
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala
        .filter(l => plusOne.findFirstIn(l).isDefined)
        .map(l => s"${root.relativize(p)}: ${l.trim}"))
    assert(hits == Seq("graft/sources/TtLog.scala: def next: Int = head + 1"),
      "a tt commit version is picked only by log.next:\n" + hits.mkString("\n"))
  }
}

/** Local files under the `countfs` scheme, counting listStatus and open
  * calls on paths under a `_log` dir.
  */
class CountFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"

  private def inLog(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.endsWith("/_log") || s.contains("/_log/")
  }

  // plain statuses: a raw local status loads its permissions through a
  // `file:` URI, which a `countfs:` path is not
  private def plain(st: FileStatus): FileStatus = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = {
    if (inLog(f)) CountFs.lists.incrementAndGet()
    if (f.getName == "_log") CountFs.logDirLists.incrementAndGet()
    super.listStatus(f).map(plain)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (inLog(f)) CountFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountFs {
  /** listStatus calls under `_log`, and those of the `_log` dir itself. */
  val lists, logDirLists = new AtomicInteger
  val opens = new AtomicInteger
  def reset(): Unit = { lists.set(0); logDirLists.set(0); opens.set(0) }
}
