package graft.engine

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Mutations
import graft.streaming.EventStreams

class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A copy of a local store under a fresh dir, without `.crc` sidecars. */
  private def copyStore(from: String): String = {
    val src = Paths.get(from)
    val dst = Paths.get(tmp("graft_publish_store"), "store")
    Files.walk(src).iterator().asScala
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .foreach { p =>
        val to = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
    dst.toString
  }

  /** day dir name → its parquet file names. */
  private def dayFiles(store: String): Map[String, Set[String]] =
    Option(new File(store).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("day="))
      .map(d => d.getName -> d.list().filter(_.endsWith(".parquet")).toSet).toMap

  /** Every day present before a failed publish still holds its old files
    * or a complete new set, and no staging or replaced dir is left.
    */
  private def assertOldOrNew(before: Map[String, Set[String]], store: String): Unit = {
    val after = dayFiles(store)
    before.foreach { case (day, files) =>
      if (!after.contains(day)) fail(s"$day is missing after a failed publish")
      assert(after(day) == files || (after(day).nonEmpty && (after(day) & files).isEmpty),
        s"$day holds a mix of old and new files")
    }
    val left = new File(store).list().filter(n => n.startsWith("_stage_") || n.startsWith("_replaced_"))
    assert(left.isEmpty, s"left behind: ${left.mkString(", ")}")
  }

  /** Run `body` with the `faultfs` scheme registered, then unregister it
    * and disarm every fault: the SparkSpec leak check covers SQL conf only,
    * not the Hadoop configuration.
    */
  private def withFaultFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faultfs.impl", classOf[FaultFs].getName)
    hc.setBoolean("fs.faultfs.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.faultfs.impl")
      hc.unset("fs.faultfs.impl.disable.cache")
      FaultFs.reset()
    }
  }

  test("a failed move-in during compaction leaves every day old or new") {
    val store = copyStore(Mutations.compactStoreDir(spark, sf0001))
    val before = dayFiles(store)
    val n = spark.read.parquet(store).count()
    withFaultFs {
      FaultFs.armRename(store, skip = 1) // the second day's move-in fails
      intercept[Exception](Mutations.compactRun(spark, s"faultfs://$store"))
    }
    assertOldOrNew(before, store)
    assert(spark.read.parquet(store).count() == n)
  }

  test("a failed move-in during up10's restatement leaves every day old or new") {
    val store = copyStore(Mutations.forgetStoreDir(spark, sf0001))
    val before = dayFiles(store)
    withFaultFs {
      FaultFs.armRename(store)
      intercept[Exception](Mutations.forgetRestate(spark, s"faultfs://$store"))
    }
    assertOldOrNew(before, store)
  }

  test("a failed move-in during an st12 merge batch leaves every day old or new") {
    val store = Paths.get(tmp("graft_publish_st12"), "store").toString
    var armedAt = Map.empty[String, Set[String]]
    withFaultFs {
      intercept[Exception](EventStreams.runUpdateMerge(spark, sf0001,
        EventStreams.rangeSrc(spark, sf0001), s"faultfs://$store",
        (_, _) => if (armedAt.isEmpty) { // after the first batch
          armedAt = dayFiles(store)
          FaultFs.armRename(store)
        }))
    }
    assert(armedAt.nonEmpty, "the first batch published no day")
    assertOldOrNew(armedAt, store)
  }

  test("a staging job that throws leaves the dir byte-identical and hidden from readers") {
    val store = copyStore(Mutations.compactStoreDir(spark, sf0001))
    // every path, and each file's length and mtime (a dir's mtime moves
    // whenever an entry comes and goes)
    def listing: Seq[(String, Long, Long)] = Files.walk(Paths.get(store)).iterator().asScala
      .map(_.toFile).map(f => if (f.isFile) (f.getPath, f.length, f.lastModified) else (f.getPath, 0L, 0L))
      .toSeq.sorted
    val before = listing
    val days = dayFiles(store).keys.map(_.stripPrefix("day=")).toSeq
    val boom = udf((id: Long) => { if (id >= 0) throw new IllegalStateException("injected"); id })
    val rows = spark.read.parquet(store).withColumn("event_id", boom(col("event_id")))
    intercept[Exception](Publish.partitions(spark, store, "day", rows, days))
    assert(listing == before)
    assert(!spark.read.parquet(store).inputFiles.exists(_.contains("_stage_")))
  }

  /** A four-row day-partitioned OCC store with its v0 claimed. */
  private def occStore(root: String): String = {
    val dir = s"$root/store"
    Seq((1L, 10L, "2024-01-01"), (2L, 20L, "2024-01-01"), (3L, 30L, "2024-01-02"),
      (4L, 40L, "2024-01-03"))
      .toDF("event_id", "cents", "day").write.partitionBy("day").parquet(dir)
    Publish.claim(spark, s"$dir/_log", 0, "")
    dir
  }

  test("occ: a touched day the transform empties is absent after commit") {
    val root = tmp("graft_publish_occ")
    val dir = occStore(root)
    Sessions.withConf(spark)(Sessions.noPartitionInference) {
      val w = new Mutations.OccWriter(spark, dir, s"$root/stage", base = 0,
        Seq("2024-01-01", "2024-01-02"),
        _.filter(col("day") =!= "2024-01-01").withColumn("cents", col("cents") + 1L))
      w.stage()
      assert(w.commit().version == 1)
      assert(!new File(dir, "day=2024-01-01").exists, "emptied day left in place")
      val got = spark.read.parquet(dir).select("event_id", "cents", "day").as[(Long, Long, String)]
        .collect().toSet
      assert(got == Set((3L, 31L, "2024-01-02"), (4L, 40L, "2024-01-03")))
    }
  }

  test("claim: two threads on one version, one wins with its whole body, no tmp left") {
    val log = s"${tmp("graft_publish_claim")}/_log"
    val bodies = Seq("a\n" * 50000, "b\n" * 50000)
    val start = new CountDownLatch(1)
    val results = new Array[Try[Unit]](2)
    val threads = bodies.indices.map(i => new Thread(() => {
      start.await()
      results(i) = Try(Publish.claim(spark, log, 1, bodies(i)))
    }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(results.count(_.isSuccess) == 1, results.mkString(", "))
    val lost = results.find(_.isFailure).get.failed.get
    assert(lost.isInstanceOf[FileAlreadyExistsException], lost)
    val winner = results.indexWhere(_.isSuccess)
    assert(Files.readString(Paths.get(log, "v1.txt")) == bodies(winner))
    assert(new File(log).list().toSeq == Seq("v1.txt"))
  }

  test("occ: a claim failure other than a taken version propagates out of commit") {
    val root = tmp("graft_publish_occfail")
    withFaultFs {
      val dir = occStore(s"faultfs://$root")
      Sessions.withConf(spark)(Sessions.noPartitionInference) {
        val w = new Mutations.OccWriter(spark, dir, s"faultfs://$root/stage", base = 0,
          Seq("2024-01-02"), identity)
        w.stage()
        FaultFs.failLogCreates(3)
        val e = intercept[IOException](w.commit())
        assert(e.getMessage.contains("injected"), e)
        assert(FaultFs.logCreatesFailed == 1, "commit retried a failed claim")
      }
    }
  }

  test("source lint: partition-replacing writes and version claims go through Publish") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val exclusiveCreate = "\\.create\\((?:[^()]|\\([^()]*\\))*,\\s*false\\s*\\)|createLink\\(".r
    val offenders = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
        val mode = if (src.contains("partitionOverwriteMode"))
          Seq(s"$p: partitionOverwriteMode (use graft.engine.Publish.partitions)") else Nil
        val claims = if (p.endsWith(Paths.get("engine/Publish.scala"))) Nil
          else exclusiveCreate.findAllIn(code).map(m =>
            s"$p: a claim outside Publish (use graft.engine.Publish.claim): $m").toSeq
        mode ++ claims
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("source lint: a lost tt claim is retried only in Mutations.ttOcc") {
    // a lost claim surfaces only as FileAlreadyExistsException, so a loop
    // that retries one must catch it: with the catch confined to ttOcc,
    // ttOcc's bound is the only retry bound
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val counter = "\\battempts\\s*[<>]".r
    val offenders = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("engine/Publish.scala")))
      .flatMap { p =>
        val code = Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
        // the body of ttOcc, up to the first line that closes a member
        val rest = if (!p.endsWith(Paths.get("ops/Mutations.scala"))) code
          else code.replaceFirst("(?s)def ttOcc\\[.*?\\n  \\}\\n", "")
        (rest.split("\n").filter(_.contains("FileAlreadyExistsException")).map(l =>
          s"$p: catches a lost claim outside Mutations.ttOcc: ${l.trim}") ++
          rest.split("\n").filter(l => counter.findFirstIn(l).isDefined).map(l =>
            s"$p: a hand-rolled retry bound (use Mutations.ttOcc): ${l.trim}")).toSeq
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val loops = Files.readString(Paths.get("src/main/scala/graft/ops/Mutations.scala"))
    assert(loops.contains("def ttOcc[") && loops.contains("private[graft] val ttOccAttempts = 20"))
  }
}

/** Test-only filesystem for the `faultfs` scheme: the local disk with two
  * one-shot faults. [[FaultFs.armRename]] fails a rename into `<root>/day=X`
  * for a day X present when armed — Spark's dynamic-commit rename and
  * Publish's move-in — after `skip` such renames pass; later renames pass.
  * [[FaultFs.failLogCreates]] fails the next `n` creates under a `_log` dir.
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.onRename(dst)
    super.rename(src, dst)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.onCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultFs {
  private var renameFault: Option[(String, Set[String], Int)] = None // root, days, skip
  private var logCreateFaults = 0
  @volatile var logCreatesFailed = 0

  def armRename(root: String, skip: Int = 0): Unit = synchronized {
    val days = Option(new File(root).list()).toSeq.flatten.filter(_.startsWith("day=")).toSet
    renameFault = Some((new File(root).getAbsolutePath, days, skip))
  }

  def failLogCreates(n: Int): Unit = synchronized { logCreateFaults = n; logCreatesFailed = 0 }

  def reset(): Unit = synchronized { renameFault = None; logCreateFaults = 0; logCreatesFailed = 0 }

  private[engine] def onRename(dst: Path): Unit = synchronized {
    renameFault.foreach { case (root, days, skip) =>
      if (dst.getParent.toUri.getPath == root && days.contains(dst.getName)) {
        if (skip > 0) renameFault = Some((root, days, skip - 1))
        else {
          renameFault = None
          throw new IOException(s"injected rename failure into $dst")
        }
      }
    }
  }

  private[engine] def onCreate(f: Path): Unit = synchronized {
    if (logCreateFaults > 0 && f.getParent.getName == "_log") {
      logCreateFaults -= 1
      logCreatesFailed += 1
      throw new IOException(s"injected create failure at $f")
    }
  }
}
