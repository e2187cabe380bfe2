package graft.engine

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class SessionsSpec extends SparkSpec {
  import Sessions.withConf

  // a registered key with a default: getOption reports the default even
  // while the key is unset, which a naive save/restore pins explicitly
  private val cbo = "spark.sql.cbo.enabled"
  private def isSet(k: String): Boolean = spark.conf.getAll.contains(k)

  test("withConf: a key that was unset comes back unset, not pinned to its default") {
    assert(!isSet(cbo))
    withConf(spark)(cbo -> "true")(assert(spark.conf.get(cbo) == "true"))
    assert(!isSet(cbo))
  }

  test("withConf: restores the prior value when the body throws") {
    val k = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(k)
    val e = intercept[IllegalStateException] {
      withConf(spark)(k -> "2048", cbo -> "true")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.getOption(k) == before)
    assert(!isSet(cbo))
  }

  test("withConf: nested scopes on the same key unwind one level at a time") {
    val k = "spark.sql.shuffle.partitions"
    val outer = spark.conf.get(k)
    withConf(spark)(k -> "3") {
      withConf(spark)(k -> "2", k -> "1")(assert(spark.conf.get(k) == "1"))
      assert(spark.conf.get(k) == "3")
    }
    assert(spark.conf.get(k) == outer)
  }

  test("withConf: two threads flipping one key on one session leave it as it was") {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = Seq("true", "false").map { v =>
      new Thread(() =>
        try (1 to 50).foreach { _ =>
          withConf(spark)(cbo -> v) {
            Thread.sleep(1)
            val seen = spark.conf.get(cbo)
            if (seen != v) errors.add(s"thread $v saw $seen")
          }
        } catch { case e: Throwable => errors.add(s"thread $v threw $e") })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.take(5).mkString("; "))
    assert(!isSet(cbo))
  }

  test("withConf: up6's dynamic overwrite leaves partitionOverwriteMode unset") {
    val k = "spark.sql.sources.partitionOverwriteMode"
    assert(!isSet(k))
    graft.ops.Mutations.dynamicPartitionOverwrite(spark, sf0001).collect()
    assert(!isSet(k))
  }

  test("source lint: no finally-restored session conf, no session-wide partitionOverwriteMode") {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: no $r"))
    val sources = roots.flatMap(r => Files.walk(r).iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
    def code(p: Path): String = Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val confWrite = "conf\\.(set|unset)\\(".r
    val modeOnSession = "(?s)conf\\.set\\([^)]*partitionOverwriteMode".r
    // a finally clause: its braced block, or its first line plus every
    // following line indented deeper than the line that holds `finally`
    def finallyClauses(src: String): Seq[String] = {
      val lines = src.split("\n", -1).toSeq
      lines.indices.filter(i => lines(i).contains("finally")).map { i =>
        val indent = lines(i).takeWhile(_ == ' ').length
        val rest = lines.drop(i + 1)
          .takeWhile(l => l.trim.isEmpty || l.takeWhile(_ == ' ').length > indent)
        (lines(i).substring(lines(i).indexOf("finally")) +: rest).mkString("\n")
      }
    }
    val offenders = sources.flatMap { p =>
      val src = code(p)
      finallyClauses(src).filter(c => confWrite.findFirstIn(c).isDefined)
        .map(c => s"$p: conf restored in a finally (use Sessions.withConf): ${c.linesIterator.next()}") ++
        modeOnSession.findFirstIn(src)
          .map(_ => s"$p: partitionOverwriteMode set on the session (use graft.engine.Publish)")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
