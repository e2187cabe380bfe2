package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One timed call into a graft module. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** State of one benchmark run: the session, the generated inputs, the timed
  * operations and the correctness checks. Only the benchmark's own code
  * touches it; graft sees the session and the input paths.
  */
final class Ctx(val spark: SparkSession, val data: String, val seed: Long,
    val seconds: Double, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val passes = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var windowStartMs, windowEndMs = 0L

  private var inWindow = false

  /** Times one call into a graft module; inside [[loop]] it is one
    * operation of the run. */
  def op[T](module: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    def record(ok: Boolean): Unit =
      if (inWindow) ops += Op(name, (System.nanoTime() - t0) / 1e9, ok)
    try {
      val r = tracer.span(module, name)(body)
      record(ok = true)
      r
    } catch {
      case e: Throwable => record(ok = false); throw e
    }
  }

  /** Runs passes back to back (one client, closed loop) until `seconds`
    * have gone by; at least one pass runs.
    */
  def loop(pass: => Unit): Unit = {
    windowStartMs = System.currentTimeMillis()
    val start = System.nanoTime()
    inWindow = true
    try {
      while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
        val t0 = System.nanoTime()
        pass
        passes += (System.nanoTime() - t0) / 1e9
      }
    } finally inWindow = false
    windowEndMs = System.currentTimeMillis()
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

/** One part of a workload: a sequence of calls into graft that a pass runs
  * once, with its own untimed preparation and correctness checks.
  */
trait Part {
  /** Untimed: anything the part needs before the window. */
  def prepare(ctx: Ctx): Unit = ()
  /** One pass of the part's calls; timed. */
  def pass(ctx: Ctx): Unit
  /** Correctness checks on what the window produced; untimed. */
  def verify(ctx: Ctx): Unit
}

object Main {
  /** Each workload runs its parts in this order in every pass. */
  val workloads: Map[String, Seq[Part]] = Map(
    "batch" -> Seq(AlsTrain, GraphIter),
    "session" -> Seq(QueryMix, LakeDml))

  /** Session set-ups per run: the first is timed from JVM start, the
    * others are stop-and-rebuild cycles in the same JVM. */
  val setupSamples = 3

  private def session(): SparkSession = {
    val s = graft.engine.Sessions.local()
    s.range(4).count()
    s
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val parts = workloads.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val tracer = new Tracer(opt("trace") == "1")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = tracer.span("engine", "session")(session())
    setups += (System.currentTimeMillis() - jvmStartMs) / 1e3
    for (_ <- 1 until setupSamples) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("engine", "session")(session())
      setups += (System.nanoTime() - t0) / 1e9
    }
    tracer.attach(spark)

    val ctx = new Ctx(spark, opt("data"), opt("seed").toLong, opt("seconds").toDouble, tracer)
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    var error: Option[Throwable] = None
    var gc = 0.0
    val stages = root.putObject("stage_s")
    def stage(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      stages.put(name, (System.nanoTime() - t0) / 1e9)
    }
    try {
      stage("prepare")(parts.foreach(_.prepare(ctx)))
      val gc0 = gcSeconds()
      stage("measure")(ctx.loop(parts.foreach(_.pass(ctx))))
      gc = gcSeconds() - gc0
      stage("verify")(parts.foreach(_.verify(ctx)))
    } catch {
      case e: Throwable => error = Some(e); e.printStackTrace()
    }

    val setupArr = root.putArray("setup_s")
    setups.foreach(setupArr.add(_))
    root.put("gc_s", gc)
    root.put("cores", Runtime.getRuntime.availableProcessors())
    val passArr = root.putArray("passes_s")
    ctx.passes.foreach(passArr.add(_))
    val opsArr = root.putArray("ops")
    ctx.ops.foreach { o =>
      opsArr.addObject().put("name", o.name).put("s", o.seconds).put("ok", o.ok)
    }
    val checkArr = root.putArray("checks")
    ctx.checks.foreach { case (n, ok, d) =>
      checkArr.addObject().put("name", n).put("ok", ok).put("detail", d)
    }
    val info = root.putObject("info")
    ctx.info.foreach { case (k, v) => putAny(json, info, k, v) }
    error.foreach(e => root.put("error", e.toString))
    if (tracer.enabled) writeTrace(json, root.putObject("trace"), tracer,
      ctx.windowStartMs, ctx.windowEndMs)
    json.writeValue(new java.io.File(opt("out")), root)
    ctx.spark.stop()
  }

  private def putAny(json: ObjectMapper, node: ObjectNode, k: String, v: Any): Unit =
    node.set[ObjectNode](k, json.valueToTree[com.fasterxml.jackson.databind.JsonNode](toJava(v)))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case x => x
  }

  private def writeTrace(json: ObjectMapper, node: ObjectNode, tracer: Tracer,
      windowStartMs: Long, windowEndMs: Long): Unit = {
    val (counters, phases) = tracer.collected()
    node.put("window_start_ms", windowStartMs).put("window_end_ms", windowEndMs)
    val spans = node.putArray("spans")
    tracer.spans.foreach { s =>
      val o = spans.addObject().put("id", s.id).put("parent", s.parent)
        .put("module", s.module).put("name", s.name)
        .put("start_ms", s.startMs).put("s", s.seconds)
      counters.get(s.id).foreach { c =>
        o.put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
          .put("run_s", c.runMs / 1e3).put("cpu_s", c.cpuNs / 1e9).put("gc_s", c.gcMs / 1e3)
          .put("shuffle_read_b", c.shuffleRead).put("shuffle_write_b", c.shuffleWrite)
          .put("spill_b", c.spill).put("written_b", c.written)
      }
    }
    val ph = node.putArray("phases")
    phases.foreach { case (p, s, e) =>
      ph.addObject().put("phase", p).put("start_ms", s).put("end_ms", e)
    }
  }
}
