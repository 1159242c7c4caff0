package graftbench

import java.lang.management.ManagementFactory

import graft.core.Sessions

/** One benchmark run inside a fresh JVM: builds the session, runs the
  * workload's set-up and warm-up, then the timed closed loop, and writes
  * the run record (set-up steps, every attempted op, the outputs to check
  * and, when tracing, the spans and listener events) as JSON.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <tables dir> --work <scratch dir> --out <file>
  *   --cores <n>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opt("work")
    val loadavg = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble).getOrElse(-1.0)
    val tracer = new Tracer(opt("trace") == "1")
    val steps0 = tracer.nowUs
    val spark = tracer.root("setup:session", "core", "session") {
      Sessions.local("graftbench", opt("cores").toInt)
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sessionEnd = tracer.nowUs
    val sparkTrace = if (tracer.enabled) Some(new SparkTrace(spark)) else None
    val ctx = new Ctx(spark, tracer, opt("data"), work, opt("seed").toLong)
    ctx.steps += Map("name" -> "session", "layer" -> "core", "start_us" -> steps0, "end_us" -> sessionEnd)
    val wl = Workload(opt("workload"), ctx)
    try {
      wl.setUp()
      val checks = ctx.step("warmup", "core")(wl.warm())
      val loopStart = tracer.nowUs
      val ops = Loop.run(tracer, wl.names, wl.clients, ctx.seed, opt("seconds").toDouble)(wl.exec)
      val events = sparkTrace.map(_.drain()).getOrElse(Nil)
      Json.write(opt("out"), Map(
        "workload" -> opt("workload"),
        "seed" -> ctx.seed,
        "box" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors(),
          "cores" -> opt("cores").toInt,
          "loadavg_start" -> loadavg,
          "heap_max_bytes" -> Runtime.getRuntime.maxMemory()),
        "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
        "steps" -> ctx.steps.toSeq,
        "loop_start_us" -> loopStart,
        "clients" -> wl.clients,
        "ops" -> ops.map(r => Map(
          "id" -> r.id, "client" -> r.client, "round" -> r.round, "name" -> r.name,
          "start_us" -> r.startUs, "end_us" -> r.endUs, "ok" -> r.ok, "error" -> r.error,
          "rows" -> r.rows, "tags" -> r.tags,
          "check" -> r.check.map(checkJson))),
        "checks" -> checks.map(checkJson),
        "extra" -> wl.extra,
        "spans" -> tracer.spans,
        "events" -> events))
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def checkJson(c: Check): Map[String, Any] =
    Map("op" -> c.op, "path" -> c.path, "oracle" -> c.oracle, "mode" -> c.mode, "rows" -> c.rows)
}
