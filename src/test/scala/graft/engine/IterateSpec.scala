package graft.engine

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

class IterateSpec extends SparkSpec {

  private def isLeaf(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]
  private def xs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted
  private def init: DataFrame = spark.range(4).toDF("x").localCheckpoint()
  private val plusOne = (df: DataFrame, _: Int) => Some(df.select((col("x") + 1).as("x")))

  test("every = 3: only rounds 3, 6, ... come back as LogicalRDD leaves") {
    val seen = mutable.ArrayBuffer.empty[(Int, Boolean)] // (round, its input is a leaf)
    val out = Iterate("cadence", init, 7, every = 3) { (df, r) =>
      seen += ((r, isLeaf(df)))
      plusOne(df, r)
    }
    // round r's input is round r-1's output; round 1's is the init leaf
    assert(seen.toSeq == Seq(1 -> true, 2 -> false, 3 -> false, 4 -> true,
      5 -> false, 6 -> false, 7 -> true))
    assert(!isLeaf(out), "round 7 is not a checkpoint round")
    assert(xs(out) == Seq(7L, 8L, 9L, 10L))
    assert(isLeaf(Iterate("cadence", init, 6, every = 3)(plusOne)))
  }

  test("None stops the loop and returns the last state") {
    var calls = 0
    val out = Iterate("none", init, 10) { (df, r) =>
      calls += 1
      if (r == 3) None else plusOne(df, r)
    }
    assert(calls == 3)
    assert(xs(out) == Seq(2L, 3L, 4L, 5L))
  }

  test("until stops on the materialized leaf") {
    val tested = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val out = Iterate("until", init, 10, mustConverge = true,
        until = (leaf, r) => { tested += ((r, isLeaf(leaf))); leaf.filter(col("x") >= 5).count() > 0 }
      )(plusOne)
    assert(tested.toSeq == Seq(1 -> true, 2 -> true))
    assert(isLeaf(out))
    assert(xs(out) == Seq(2L, 3L, 4L, 5L))
  }

  test("at the cap, a loop that need not converge returns its last state") {
    val out = Iterate("capped", init, 2, until = (_, _) => false)(plusOne)
    assert(xs(out) == Seq(2L, 3L, 4L, 5L))
    assert(xs(Iterate("zero", init, 0)(plusOne)) == Seq(0L, 1L, 2L, 3L))
  }

  test("at the cap, a loop that must converge throws naming the loop and the cap") {
    val e = intercept[IllegalStateException] {
      Iterate("toy fixpoint", init, 2, until = (_, _) => false, mustConverge = true)(plusOne)
    }
    assert(e.getMessage == "toy fixpoint did not converge in 2 rounds")
    // a None round is a fixpoint: no throw
    Iterate("toy fixpoint", init, 2, mustConverge = true)((_, _) => None)
  }

  test("each round's jobs carry \"<name> round r\"; the prior description and the job group survive") {
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
      val start = init
      Iterate("labels", start, 3,
        until = (leaf, _) => leaf.count() < 0)(plusOne)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      start.count()
      sc.clearJobGroup()
      Iterate("bare", start, 1)(plusOne)
      assert(sc.getLocalProperty("spark.job.description") == null)
      sc.setJobDescription("sentinel")
      start.count()
      sc.setJobDescription(null)
      // the listener bus delivers in order: once the sentinel job is
      // seen, every earlier job has been too
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.synchronized(jobs.exists(_._1 == "sentinel")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val seen = jobs.synchronized(jobs.toList)
      val labelled = seen.takeWhile(_._1 != "sentinel").dropWhile(_._1 != "labels round 1")
      val grouped = labelled.takeWhile(_._2 == "grp")
      assert(grouped.map(_._1).distinct ==
        Seq("labels round 1", "labels round 2", "labels round 3", "outer"),
        s"jobs: $seen")
      assert(labelled.drop(grouped.size).map(_._1).distinct == Seq("bare round 1"),
        s"jobs: $seen")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }
}
