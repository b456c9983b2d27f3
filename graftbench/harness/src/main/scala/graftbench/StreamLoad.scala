package graftbench

import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.Tables
import graft.streaming.FraudStream

/** Every trigger's progress as Structured Streaming reports it: the
  * trigger's start (epoch ms), its phase durations and its input rows.
  */
final class ProgressLog extends StreamingQueryListener {
  val triggers = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile var rows = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    triggers.synchronized {
      triggers += Map("batch" -> p.batchId, "start_ms" -> startMs,
        "rows" -> p.numInputRows, "phases_ms" -> phases)
    }
    rows += p.numInputRows
  }

  def snapshot: Seq[Map[String, Any]] = triggers.synchronized(triggers.toList)
}

/** fraud_stream: `FraudStream.start` on a running (not AvailableNow)
  * query, fed by a separate open-loop generator process, then a
  * pre-staged backlog that drains.
  *
  * Inputs under `data/stream`: `users.csv`, `products.csv` and the
  * `warmup` and `backlog` file sets, all made by `prepare` in
  * streamgen.py.
  */
final class StreamLoad(a: Main.Args) {
  private val PhaseOrder = Seq("latestOffset", "setOffsetRange", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
  private val streamData = s"${a.data}/stream"
  private val probe = if (a.trace) Some(new EngineProbe) else None
  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private var log: ProgressLog = _
  private var dirs: Map[String, String] = Map.empty
  private var expectedRows = 0L

  private def files(dir: String): Seq[Path] =
    JFiles.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private def csvRows(p: Path): Long = JFiles.lines(p).count() - 1

  /** Move `fs` into the query's input directory (atomic renames). */
  private def land(fs: Seq[Path]): Unit = fs.foreach { f =>
    JFiles.copy(f, Paths.get(dirs("staging"), f.getFileName.toString))
    JFiles.move(Paths.get(dirs("staging"), f.getFileName.toString),
      Paths.get(dirs("input"), f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  private def awaitRows(n: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (log.rows < n && System.currentTimeMillis() < deadline && query.isActive) Thread.sleep(5)
    log.rows >= n
  }

  /** Session, dimension staging, query start and warm-up triggers. */
  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    spark = graft.GraftSession.local(Main.Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val root = s"${a.work}/stream"
    Files.reset(root)
    dirs = Seq("input", "staging", "sink", "checkpoint").map(d => d -> s"$root/$d").toMap
    dirs.values.foreach(d => JFiles.createDirectories(Paths.get(d)))
    val users = Tables.readCsv(spark, s"$streamData/users.csv", Tables.userSchema)
    val products = Tables.readCsv(spark, s"$streamData/products.csv", Tables.productSchema)
    log = new ProgressLog
    spark.streams.addListener(log)
    // the micro-batch session is cloned at query start and inherits the
    // query-execution listeners registered by then
    probe.foreach(p => spark.listenerManager.register(p))
    query = FraudStream.start(spark, dirs("input"), users, products, dirs("sink"),
      dirs("checkpoint"), availableNow = false)
    expectedRows = 0L
    for (group <- files(s"$streamData/warmup").grouped(4)) {
      land(group)
      expectedRows += group.map(csvRows).sum
      require(awaitRows(expectedRows, 60000), "warm-up trigger did not commit")
    }
    Map("setup_s" -> (System.nanoTime() - t0) / 1e9, "session_start_s" -> sessionS)
  }

  def close(): Unit = {
    if (query != null) query.stop()
    if (spark != null) spark.stop()
    query = null
    spark = null
  }

  private def sinkFiles(): Int =
    JFiles.walk(Paths.get(dirs("sink"))).iterator().asScala.count(_.toString.endsWith(".parquet"))

  /** One run of the open-loop generator process, numbering its files
    * from the live files already landed; waits for it to exit and for
    * the engine to commit every row it wrote.
    */
  private def generate(seconds: Double, genLog: String): Map[String, Any] = {
    val first = files(dirs("input")).count(_.getFileName.toString.startsWith("live-"))
    val gen = new ProcessBuilder(a.python, s"${a.benchDir}/streamgen.py",
      "--seed", a.seed.toString, "--seconds", seconds.toString, "--first", first.toString,
      "--input", dirs("input"), "--staging", dirs("staging"), "--log", genLog)
      .redirectErrorStream(true).redirectOutput(new java.io.File(s"$genLog.out"))
      .start()
    val exit = gen.waitFor()
    val endMs = System.currentTimeMillis()
    expectedRows += new String(JFiles.readAllBytes(Paths.get(genLog + ".rows"))).trim.toLong
    // rows that never commit show in the output check and as infinite latency
    awaitRows(expectedRows, 60000)
    Map("log" -> genLog, "exit" -> exit, "end_ms" -> endMs)
  }

  /** A trigger as a span tree: the trigger's wall time (`harness` layer,
    * so that its self time is the part no phase accounts for) with one
    * child per phase Structured Streaming reports. The phases run one
    * after another in `PhaseOrder`; addBatch runs the foreachBatch sink
    * (the stream-static joins and the date-partitioned write) and is
    * the `sources` layer's, the other phases are the `streaming`
    * layer's.
    */
  private def record(tracer: Tracer, t: Map[String, Any]): Unit = {
    val start = t("start_ms").asInstanceOf[Long]
    val phases = t("phases_ms").asInstanceOf[Map[String, Long]]
    tracer.pass = t("batch").asInstanceOf[Long].toInt
    val id = tracer.record("streaming.trigger", "harness", -1, tracer.fromEpochMs(start),
      tracer.fromEpochMs(start + phases.getOrElse("triggerExecution", 0L)))
    val order = PhaseOrder.filter(phases.contains) ++
      (phases.keySet -- PhaseOrder - "triggerExecution").toSeq.sorted
    var at = start
    for (name <- order) {
      val layer = if (name == "addBatch") "sources" else "streaming"
      tracer.record(s"$layer.$name", layer, id, tracer.fromEpochMs(at),
        tracer.fromEpochMs(at + phases(name)))
      at += phases(name)
    }
  }

  /** Open-loop phase, then the backlog drain. Returns the raw record.
    *
    * A traced run splits the open loop into an untraced and a traced
    * half, with the engine idle in between: the engine probe listens
    * from the first trigger of the traced half to the commit of its
    * last, so its counters cover exactly the traced half's triggers,
    * and the untraced half gives the baseline for the tracing overhead.
    */
  def measure(tracer: Tracer): Map[String, Any] = {
    val before = log.snapshot.size
    val gens = mutable.ArrayBuffer.empty[Map[String, Any]]
    var engine = Map.empty[String, Double]
    var tracedSinkFiles = 0
    var traced = Seq.empty[Map[String, Any]]
    probe match {
      case None => gens += generate(a.seconds, s"${a.work}/generator-0.json")
      case Some(p) =>
        gens += generate(a.seconds / 2, s"${a.work}/generator-0.json")
        val filesBefore = sinkFiles()
        val triggersBefore = log.snapshot.size
        spark.sparkContext.addSparkListener(p)
        p.take(spark)
        gens += generate(a.seconds / 2, s"${a.work}/generator-1.json")
        engine = p.take(spark)
        p.detach(spark)
        tracedSinkFiles = sinkFiles() - filesBefore
        traced = log.snapshot.drop(triggersBefore)
    }
    traced.foreach(record(tracer, _))

    val backlog = files(s"$streamData/backlog")
    val backlogRows = backlog.map(csvRows).sum
    val drainStartMs = System.currentTimeMillis()
    land(backlog)
    expectedRows += backlogRows
    val drainOk = awaitRows(expectedRows, 120000)
    query.stop()
    val triggers = log.snapshot.drop(before)
    Map("triggers" -> triggers, "generators" -> gens.toList, "drain_start_ms" -> drainStartMs,
      "backlog_rows" -> backlogRows, "backlog_files" -> backlog.size, "drain_committed" -> drainOk,
      "engine" -> engine, "traced_sink_files" -> tracedSinkFiles,
      "traced_batches" -> traced.map(_("batch")),
      "sink" -> dirs("sink"), "checkpoint" -> dirs("checkpoint"),
      "warmup_dir" -> s"$streamData/warmup", "backlog_dir" -> s"$streamData/backlog")
  }
}
