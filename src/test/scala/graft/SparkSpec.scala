package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite.
  *
  * Every test runs under a conf-leak check: once the session exists, its
  * `conf.getAll` before the test must equal what it is after, or the
  * test fails naming each changed key. The session is built with the tt
  * catalog installed, so the tests' own `TtCatalog.install` calls change
  * nothing.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = graft.engine.Sessions.local(4)
    graft.sources.TtCatalog.install(s)
    s
  }
  lazy val sf0001 = "/root/testdata/sf0.001"

  override def withFixture(test: NoArgTest): Outcome =
    if (SparkSession.getDefaultSession.isEmpty) super.withFixture(test)
    else {
      val before = spark.conf.getAll
      val outcome = super.withFixture(test)
      val after = spark.conf.getAll
      val leaked = graft.engine.Sessions.changedKeys(before, after).map(k =>
        s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
      if (leaked.isEmpty || !outcome.isSucceeded) outcome
      else Failed(s"test leaked session conf: ${leaked.mkString(", ")}")
    }
}
