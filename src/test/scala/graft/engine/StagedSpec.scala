package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

class StagedSpec extends SparkSpec {

  // a dataset dir of its own per test, so no entry carries across tests
  private def dataset(): String = {
    val d = Files.createTempDirectory("graft_staged_ds")
    Files.writeString(d.resolve("t.parquet"), "v1")
    d.toString
  }
  private def scratch(): String = Files.createTempDirectory("graft_staged_out").toString
  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("8 threads on one key build once and share the result") {
    val d = dataset()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val results = new ConcurrentLinkedQueue[Int]
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      results.add(Staged.value(spark, "once", d) {
        builds.incrementAndGet(); Thread.sleep(200); 42
      })
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)
    assert(results.asScala.toSeq == Seq.fill(8)(42))
  }

  test("a build that stages a second key completes") {
    val d = dataset()
    val both = Future {
      Staged.dir(spark, "outer", d) {
        val inner = Staged.dir(spark, "inner", d)(scratch())
        Staged.value(spark, "inner value", d)(inner.length)
        inner
      }
    }
    val outer = Await.result(both, 60.seconds)
    assert(Staged.dir(spark, "inner", d)(fail("inner rebuilt")) == outer)
  }

  test("a deleted dir entry is rebuilt") {
    val d = dataset()
    val builds = new AtomicInteger
    def stage(): String = Staged.dir(spark, "dir", d) { builds.incrementAndGet(); scratch() }
    val first = stage()
    assert(stage() == first && builds.get == 1)
    rmrf(Paths.get(first))
    val second = stage()
    assert(builds.get == 2 && second != first && Files.isDirectory(Paths.get(second)))
  }

  test("an mtime or size change under d keys a new entry") {
    val d = dataset()
    val f = Paths.get(d, "t.parquet").toFile
    val builds = new AtomicInteger
    def stage(): Int = Staged.value(spark, "fingerprint", d)(builds.incrementAndGet())
    assert(stage() == 1 && stage() == 1)
    Files.writeString(f.toPath, "v22") // size
    assert(stage() == 2 && stage() == 2)
    assert(f.setLastModified(f.lastModified() + 60000L)) // mtime alone
    assert(stage() == 3 && stage() == 3)
  }

  test("a build that throws leaves no entry and is retried on the next call") {
    val d = dataset()
    var builds = 0
    val e = intercept[IllegalStateException] {
      Staged.value[Int](spark, "flaky", d) { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(Staged.value(spark, "flaky", d) { builds += 1; 7 } == 7)
    assert(Staged.value(spark, "flaky", d) { builds += 1; 8 } == 7)
    assert(builds == 2)
  }

  test("different params, names or datasets give different entries") {
    val (d, d2) = (dataset(), dataset())
    val builds = new AtomicInteger
    def stage(name: String, ds: String, params: Any*): Int =
      Staged.value(spark, name, ds, params: _*)(builds.incrementAndGet())
    assert(stage("p", d, 1, "x") == 1)
    assert(stage("p", d, 2, "x") == 2)
    assert(stage("p", d, 1, "y") == 3)
    assert(stage("q", d, 1, "x") == 4)
    assert(stage("p", d2, 1, "x") == 5)
    assert(stage("p", d, 1, "x") == 1)
  }

  test("a value entry is not revalidated against the filesystem") {
    val d = dataset()
    val builds = new AtomicInteger
    def stage(): String = Staged.value(spark, "value dir", d) { builds.incrementAndGet(); scratch() }
    val out = stage()
    rmrf(Paths.get(out))
    assert(stage() == out && builds.get == 1)
  }

  test("a build's jobs carry \"stage <name>\"; the prior description and the job group survive") {
    val d = dataset()
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(String, String)] // (description, group)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += ((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("grp", "outer")
      Staged.value(spark, "labelled", d) {
        spark.range(10).count()
        Staged.value(spark, "nested", d)(spark.range(5).count())
        spark.range(3).count()
      }
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      spark.range(2).count()
      sc.clearJobGroup()
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      sc.setJobDescription(null)
      // the listener bus delivers in order: once the sentinel job is
      // seen, every earlier job has been too
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.synchronized(jobs.exists(_._1 == "sentinel")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val seen = jobs.synchronized(jobs.toList)
      val labelled = seen.takeWhile(_._1 != "sentinel").dropWhile(_._1 != "stage labelled")
      // one action may run several jobs: compare runs of one description
      val runs = labelled.map(_._1).foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.headOption.contains(x)) acc else x :: acc
      }.reverse
      assert(runs == Seq("stage labelled", "stage nested", "stage labelled", "outer"),
        s"jobs: $seen")
      assert(labelled.forall(_._2 == "grp"), s"jobs: $seen")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  // ---- regeneration in place and copies of one dataset ----

  /** Copy a dataset's files with their sizes and mtimes, as `cp -a`
    * would, into a writable directory.
    */
  private def copyDataset(src: String, dst: Path): String = {
    Files.createDirectories(dst)
    Files.list(Paths.get(src)).iterator().asScala.foreach { f =>
      val out = dst.resolve(f.getFileName)
      Files.copy(f, out, StandardCopyOption.COPY_ATTRIBUTES)
      out.toFile.setWritable(true)
    }
    dst.toString
  }

  /** Overwrite `d/table.parquet` in place with its rows where `keep` holds. */
  private def rewriteInPlace(d: String, table: String, keep: org.apache.spark.sql.Column): Unit = {
    val target = Paths.get(d, s"$table.parquet")
    val tmp = Files.createTempDirectory("graft_staged_rewrite")
    spark.read.parquet(target.toString).filter(keep).coalesce(1)
      .write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    rmrf(tmp)
  }

  test("st1 and d6 serve a dataset regenerated in place, not the entries of its prior content") {
    val root = Files.createTempDirectory("graft_staged_regen")
    val queries = Seq("st1_windowed_counts", "d6_dedup_clusters")
    def run(q: String, d: String): Seq[Seq[Any]] =
      SparkEntry.queries(q)(spark, d).collect().toSeq.map(_.toSeq)
    def regenerate(d: String): Unit = {
      rewriteInPlace(d, "events", pmod(col("event_id"), lit(2)) === 0)
      rewriteInPlace(d, "documents", pmod(col("doc_id"), lit(2)) === 0)
    }
    try {
      val a = copyDataset(sf0001, root.resolve("a"))
      val before = queries.map(run(_, a))
      regenerate(a)
      val after = queries.map(run(_, a))
      val fresh = copyDataset(sf0001, root.resolve("fresh"))
      regenerate(fresh)
      val expected = queries.map(run(_, fresh))
      queries.indices.foreach(i =>
        assert(expected(i) != before(i), s"${queries(i)}: the regeneration changed nothing"))
      val stale = queries.indices.filter(i => after(i) != expected(i)).map(queries)
      assert(stale.isEmpty, s"stale after regeneration in place: ${stale.mkString(", ")}")
    } finally rmrf(root)
  }

  test("two byte-identical copies of one dataset get their own lake scenario dirs") {
    val root = Files.createTempDirectory("graft_staged_copies")
    try {
      val (a, b) = (copyDataset(sf0001, root.resolve("a")), copyDataset(sf0001, root.resolve("b")))
      assert(Tables.datasetFingerprint(a) == Tables.datasetFingerprint(b))
      val (da, db) = (graft.ops.Mutations.ttBaseScenario(spark, a),
        graft.ops.Mutations.ttBaseScenario(spark, b))
      assert(da != db)
      assert(da.endsWith(Tables.scratchTag(a)) && db.endsWith(Tables.scratchTag(b)), s"$da, $db")
    } finally rmrf(root)
  }

  test("source lint: JVM-lifetime memos go through Staged") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    // the one exception: the lake checkpoint parse cache keys on one file's
    // identity, not a dataset's content, and sits on the per-verb path
    val allowed = "ckptMemo.computeIfAbsent("
    val memo = "computeIfAbsent\\(|TrieMap".r
    val offenders = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("engine/Staged.scala")))
      .flatMap { p =>
        Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
          .split("\n").toSeq
          .filter(l => memo.findFirstIn(l).isDefined && !l.contains(allowed))
          .map(l => s"$p: a hand-rolled memo (use graft.engine.Staged): ${l.trim}")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
