package graftbench

import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

/** Directory helpers for the run's working tree. */
object Files {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (JFiles.exists(p)) {
      val all = JFiles.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try all.forEach(f => JFiles.delete(f)) finally all.close()
    }
  }

  def reset(dir: String): Unit = { delete(dir); JFiles.createDirectories(Paths.get(dir)) }

  def write(path: String, text: String): Unit =
    JFiles.writeString(Paths.get(path), text)
}

/** The DuckDB oracle SQL over the run's inputs, run by a child process
  * (`oracle.py`) that starts at once, so that it overlaps the cold
  * first set-up; [[results]] waits for it and gives one parquet result
  * per query.
  */
final class Oracle(a: Main.Args, sql: Map[String, String]) {
  private val dir = s"${a.work}/oracle"
  Files.reset(dir)
  Files.write(s"$dir/sql.json", Json(sql))
  private val proc = new ProcessBuilder(a.python, s"${a.benchDir}/oracle.py", a.data,
      s"$dir/sql.json", dir)
    .redirectErrorStream(true).redirectOutput(new java.io.File(s"$dir/oracle.out")).start()

  def results(): Map[String, String] = {
    require(proc.waitFor() == 0, s"oracle failed; see $dir/oracle.out")
    sql.keys.map(q => q -> s"$dir/$q.parquet").toMap
  }
}

/** Benchmark harness entry point. Runs one workload against the engine
  * and writes the raw record (set-up times, per-pass times and checks,
  * trace spans, per-layer counters) as JSON; `run.py` turns it into
  * the reported metrics.
  */
object Main {
  /** Spark runs at `local[Cores]`: the benchmark host has four cores. */
  val Cores = 4

  final case class Args(workload: String, data: String, work: String, out: String,
                        seconds: Double, trace: Boolean,
                        seed: Long, python: String, benchDir: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("python"), m("bench-dir"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // child processes (oracle, generator) never outlive the harness
    sys.addShutdownHook(ProcessHandle.current().children().forEach(c => { c.destroy(); () }))
    val record = a.workload match {
      case "fraud_stream" => stream(a)
      case "fraud_batch" => closedLoop(a, new FraudBatchLoad(a.data, s"${a.work}/tables"))
      case "curation" =>
        val oracle = new Oracle(a, CurationLoad.queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
        closedLoop(a, new CurationLoad(a.data, s"${a.work}/tables", oracle))
      case other => sys.error(s"unknown workload $other")
    }
    Files.write(a.out, Json(record))
  }


  /** One set-up (session, staging, a warm-up pass), then timed passes
    * until `seconds` have gone by, and at least two. A traced run
    * alternates traced and untraced passes, so one run gives both the
    * per-layer numbers and the tracing overhead.
    */
  private def closedLoop(a: Args, load: ClosedLoad): Map[String, Any] = {
    val tracer = new Tracer
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    load.stage(spark)
    load.pass(new PassCtx(spark, tracer, None, -1))
    val setup = Map("setup_s" -> (System.nanoTime() - t0) / 1e9, "session_start_s" -> sessionS)
    load.expect(spark)
    val probe = new EngineProbe
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < 2) {
      // traced first: drift from a still-warming JIT then counts against
      // tracing, never for it
      val traced = a.trace && i % 2 == 0
      tracer.on = traced
      tracer.pass = i
      if (traced) { probe.attach(spark); probe.take(spark) }
      val ctx = new PassCtx(spark, tracer, if (traced) Some(probe) else None, i)
      val t0 = System.nanoTime()
      val err = try { tracer.span("pass", "harness")(load.pass(ctx)); None }
      catch { case e: Exception => Some(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) probe.detach(spark)
      tracer.on = false
      err.foreach(e => ctx.failures += s"pass failed: $e")
      if (err.isEmpty) try load.check(ctx)
      catch { case e: Exception => ctx.failures += s"check failed: $e" }
      passes += Map("pass" -> i, "wall_s" -> wall, "traced" -> traced,
        "operations" -> math.max(ctx.operations, 1), "failures" -> ctx.failures.toList,
        "metrics" -> ctx.metrics.toMap)
      i += 1
    }
    spark.stop()
    Map("workload" -> a.workload, "setup" -> setup, "passes" -> passes.toList,
      "rows_in" -> load.rowsIn, "spans" -> tracer.toJson)
  }

  private def stream(a: Args): Map[String, Any] = {
    val load = new StreamLoad(a)
    val tracer = new Tracer
    tracer.on = a.trace
    val raw = try { val setup = load.setup(); load.measure(tracer) + ("setup" -> setup) }
      finally load.close()
    raw ++ Map("workload" -> a.workload, "spans" -> tracer.toJson)
  }
}
