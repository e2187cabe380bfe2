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
    Mutations.ttDvDelete(spark, dir, 10, "dv10", pmod(col("event_id"), lit(23)) === 0)
    Mutations.ttDvCompact(spark, dir, 11, "c11")
    assert(Mutations.ttIdempotentAppend(spark, dir, shifted(17, 5000000000L), "spec#1"))
    assert(!Mutations.ttIdempotentAppend(spark, dir, shifted(17, 5000000000L), "spec#1"))
    Mutations.ttAddConstraint(spark, dir, 13, "pos", "event_id >= 0")
    Mutations.ttRenameColumn(spark, dir, 14, "cents", "amount")
    Mutations.ttAddColumn(spark, dir, 15, "note", StringType)
    Mutations.ttDropColumn(spark, dir, 16, "note")
    Mutations.ttDropConstraint(spark, dir, 17, "pos")
    Mutations.ttAddConstraint(spark, dir, 18, "typed", "event_type IS NOT NULL")
    Mutations.ttRestore(spark, dir, 19, target = 9)
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
      val surv = Mutations.ttCheckpointSurvivors(spark, store, v, None)
      assert(surv.isDefined == survivorsAt(v), s"v$v survivors ${surv.isDefined}")
      surv.foreach { case (files, n) =>
        assert(files == data.map(f => f -> r.stats(f)), s"v$v survivors")
        assert(n == opened(v), s"v$v survivors opened $n")
      }
      val cand = Mutations.ttWriteCandidates(spark, store, v)
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
    val cand = Mutations.ttWriteCandidates(spark, store, 3)
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
    val surv = Mutations.ttCheckpointSurvivors(spark, dir, 7, None)
    assert(surv.map(_._1.map(_._1)).contains(Seq(f2)), surv.toString)
    val cand = Mutations.ttWriteCandidates(spark, dir, 7)
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

  test("SQL DML on a tt table lists and opens its _log no more often than before") {
    // (listStatus, open) calls under _log per statement, measured once
    // each SQL statement resolved its table, and the fallback of its write
    // candidates, from one listing, and every writer retried a lost claim
    // through Mutations.ttOcc; round 2 runs over ckpt-v4
    val bound = Map(
      "ctas" -> (4, 4), "version_as_of" -> (2, 4),
      "merge1" -> (4, 6), "update1" -> (4, 9), "delete1" -> (7, 13),
      "insert1" -> (5, 1), "read1" -> (2, 2),
      "merge2" -> (5, 5), "update2" -> (5, 8), "delete2" -> (8, 12),
      "insert2" -> (5, 1), "read2" -> (2, 2),
      "append_fresh" -> (2, 2), "append_replay" -> (1, 2), "apply_changes" -> (11, 15))
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
        Mutations.ttDvDelete(spark, bronze, 2, "dv2", col("event_id") % 2 === 0)
        TtCatalog.register(s"${name}_bronze", bronze)
        TtCatalog.register(s"${name}_silver", silver)
        val apply = counted("apply_changes")(spark.sql(
          s"APPLY CHANGES INTO tt.${name}_silver FROM tt.${name}_bronze").collect())
        (ctas +: rounds) ++ Seq(asOf, append, replay, apply)
      } finally Seq("", "_bronze", "_silver").foreach(x => TtCatalog.tables.remove(name + x))
    }
    info(counts.map { case (k, (l, o)) => s"$k=$l/$o" }.mkString(" "))
    assert(TtLog.head(spark, loc.stripPrefix("countfs://")) > 4)
    val over = counts.filter { case (k, (l, o)) =>
      bound.get(k).forall { case (bl, bo) => l > bl || o > bo }
    }
    assert(over.isEmpty, s"over the bound: ${over.mkString(", ")}")
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
    super.listStatus(f).map(plain)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (inLog(f)) CountFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountFs {
  val lists = new AtomicInteger
  val opens = new AtomicInteger
  def reset(): Unit = { lists.set(0); opens.set(0) }
}
