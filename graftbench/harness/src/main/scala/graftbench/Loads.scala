package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.Fraud
import graft.sources.Tables

/** What a closed-loop pass sees: the session, the tracer, and (in a
  * traced pass) the engine probe plus the map the pass's per-layer
  * metrics go into.
  */
final class PassCtx(val spark: SparkSession, val tracer: Tracer, val probe: Option[EngineProbe],
                    val pass: Int) {
  val metrics: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val failures = mutable.ArrayBuffer.empty[String]
  var operations = 0

  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  /** Run `body`; in a traced pass, add the engine counters it moved to
    * `metrics`, plus its wall time under `timeKey`.
    */
  def measured[T](timeKey: String)(body: => T): (T, Map[String, Double]) = probe match {
    case None => (body, Map.empty)
    case Some(p) =>
      p.take(spark)
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      val moved = p.take(spark)
      moved.foreach { case (k, v) => metrics(k) += v }
      metrics("sources.scan_s") += moved.getOrElse("scan.ms", 0.0) / 1e3
      metrics(timeKey) += dt
      (r, moved)
  }

  def check(ok: Boolean, what: => String): Unit = {
    operations += 1
    if (!ok) failures += what
  }
}

/** A closed-loop workload: one client, the next pass starts when the
  * previous one has finished.
  */
trait ClosedLoad {
  /** Input staging; part of set-up. */
  def stage(spark: SparkSession): Unit
  /** Expected results for the output checks, computed once after set-up,
    * untimed.
    */
  def expect(spark: SparkSession): Unit
  /** One timed pass. */
  def pass(ctx: PassCtx): Unit
  /** Output checks of the pass just run; untimed. */
  def check(ctx: PassCtx): Unit
  /** Input rows one pass consumes. */
  def rowsIn: Long
}

/** Order-independent digest of a frame: the sum of a 64-bit hash of each
  * row's canonical text, and the row count. Columns are taken in name
  * order; integers print as longs and every fractional or decimal value
  * as a double (with -0.0 folded into 0.0), so the same rows digest the
  * same whichever engine produced them.
  */
object Digest {
  def columns(df: DataFrame): Seq[Column] = {
    val parts = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val text = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => c.cast(LongType).cast(StringType)
        case FloatType | DoubleType | _: DecimalType => (c.cast(DoubleType) + lit(0.0)).cast(StringType)
        case _ => c.cast(StringType)
      }
      coalesce(text, lit("\u0000"))
    }
    Seq(coalesce(sum(xxhash64(concat_ws("\u0001", parts: _*)).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).as("h"),
        count(lit(1)).as("n"))
  }

  def of(df: DataFrame): (java.math.BigDecimal, Long) = {
    val cs = columns(df)
    val r = df.agg(cs.head, cs.tail: _*).head()
    (r.getDecimal(0), r.getLong(1))
  }
}

/** fraud_batch: the reference's backfill and daily-load path. Per pass:
  * build the fraud frames, write the scored slice into a fresh
  * date-partitioned sink, run the c6/c7 trend entries, then MERGE an
  * overlapping day slice with changed amounts into that sink table.
  */
final class FraudBatchLoad(data: String, work: String) extends ClosedLoad {
  private val MergeDays = 7
  private var cutoff: java.sql.Timestamp = _
  private var expRows = 0L
  private var expScore = 0.0
  private var expChecksum: java.math.BigDecimal = _
  private var inputRows = 0L
  private var daily: DataFrame = _

  private def sinkDir(pass: Int) = s"$work/sink-$pass"

  def rowsIn: Long = inputRows

  def stage(spark: SparkSession): Unit = Files.reset(work)

  def expect(spark: SparkSession): Unit = {
    val tx = Fraud.transactions(spark, data)
    val maxTs = tx.agg(max(col("ts"))).head().getTimestamp(0)
    cutoff = new java.sql.Timestamp(maxTs.getTime - (MergeDays - 1) * 86400000L)
    val s = Fraud.scoredTransactions(spark, data).agg(count(lit(1)), sum(col("fraud_score"))).head()
    expRows = s.getLong(0)
    expScore = s.getDouble(1)
    inputRows = expRows
    val inSlice = col("ts") >= lit(cutoff)
    expChecksum = tx.select(checksum(col("transaction_id"),
        when(inSlice, col("amount") + 1.0).otherwise(col("amount")),
        when(inSlice, lit(1L)).otherwise(lit(0L)))).head().getDecimal(0)
  }

  private def checksum(tid: Column, amount: Column, version: Column): Column =
    sum(xxhash64(tid, amount, version).cast(DecimalType(38, 0)))

  def pass(ctx: PassCtx): Unit = {
    val s = ctx.spark
    val dir = sinkDir(ctx.pass)
    val scored = ctx.span("fraud.build", "fraud") {
      ctx.measured("fraud.build_s") {
        val tx = Fraud.transactions(s, data)
        val users = Fraud.users(s, data)
        val products = Fraud.products(s, data)
        val supplierCountries = Fraud.supplierCountries(s, data)
        Fraud.score(Fraud.enrich(tx, users, products, supplierCountries))
          .withColumn("version", lit(0L))
      }._1
    }
    ctx.span("sources.sink", "sources") {
      ctx.probe.foreach(_.takeMapStages())
      val (_, moved) = ctx.measured("sources.sink_s") {
        Tables.writeDatePartitioned(scored, "ts", dir)
      }
      ctx.metrics("sources.sink_files") += moved.getOrElse("write.files", 0.0)
      ctx.metrics("sink.rows") += moved.getOrElse("write.rows", 0.0)
      ctx.probe.foreach { p =>
        // the sink's shuffle-map stages scan, join and score: that
        // share of the call is the fraud plan executing, and is taken
        // out of the sink's time
        val mapStages = p.takeMapStages()
        val fraudExec = mapStages.map { case (a, b) => (b - a) / 1e3 }.sum
        ctx.metrics("fraud.exec_s") += fraudExec
        ctx.metrics("sources.sink_s") -= fraudExec
        mapStages.foreach { case (a, b) =>
          ctx.tracer.record("fraud.exec", "fraud", ctx.tracer.currentId,
            ctx.tracer.fromEpochMs(a), ctx.tracer.fromEpochMs(b))
        }
      }
    }
    for (q <- Seq("c6_user_spend_trend", "c7_category_trend")) {
      val df = ctx.span("fraud.build", "fraud") {
        ctx.measured("fraud.build_s")(SparkEntry.queries(q)(s, data))._1
      }
      ctx.span("fraud.exec", "fraud") {
        ctx.measured("fraud.exec_s")(df.write.format("noop").mode("overwrite").save())
      }
    }
    daily = ctx.span("fraud.build", "fraud") {
      ctx.measured("fraud.build_s") {
        scored.filter(col("ts") >= lit(cutoff))
          .withColumn("amount", col("amount") + 1.0)
          .withColumn("version", lit(1L))
          .withColumn("tx_year", year(col("ts")))
          .withColumn("tx_month", month(col("ts")))
          .withColumn("tx_day", dayofmonth(col("ts")))
      }._1
    }
    ctx.span("sources.merge", "sources") {
      val (_, moved) = ctx.measured("sources.merge_s") {
        Tables.mergeIntoWarehouse(daily, dir, Seq("transaction_id"), Seq(col("version")))
      }
      ctx.metrics("sources.merge_files_read") += moved.getOrElse("scan.files", 0.0)
    }
  }

  private def warehouseState(spark: SparkSession, dir: String): (Long, Long, Double, java.math.BigDecimal) = {
    val r = spark.read.parquet(dir).agg(count(lit(1)), countDistinct(col("transaction_id")),
      sum(col("fraud_score")), checksum(col("transaction_id"), col("amount"), col("version"))).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDecimal(3))
  }

  def check(ctx: PassCtx): Unit = {
    val s = ctx.spark
    val dir = sinkDir(ctx.pass)
    // rows outside the merge slice reach the warehouse only through the
    // sink, so the merged table's rows and score sum check the sink too
    val (rows, keys, score, sum1) = warehouseState(s, dir)
    ctx.check(rows == expRows, s"sink rows $rows != scored rows $expRows")
    ctx.check(score == expScore, s"sink fraud_score sum $score != scored $expScore")
    ctx.check(keys == expRows && sum1 == expChecksum,
      s"merged table keys $keys/$expRows checksum $sum1/$expChecksum")
    Tables.mergeIntoWarehouse(daily, dir, Seq("transaction_id"), Seq(col("version")))
    val (_, keys2, _, sum2) = warehouseState(s, dir)
    ctx.check(keys2 == keys && sum2 == sum1, s"merge replay moved keys $keys->$keys2 checksum $sum1->$sum2")
    Files.delete(dir)
  }
}

/** curation: five training-data curation entries, built and executed
  * into the noop sink in a fixed order. Each execution carries an
  * observed digest that is checked against the DuckDB oracle's result.
  */
object CurationLoad {
  val queries: Seq[String] = Seq("m1_curation_pipeline", "d8_dedup_clusters",
    "d22_shared_passages", "c27_collusion_pairs", "c30_collusion_pagerank")
}

final class CurationLoad(data: String, work: String, oracle: Oracle) extends ClosedLoad {
  import CurationLoad.queries
  private var expected: Map[String, (java.math.BigDecimal, Long)] = Map.empty
  private val observed = mutable.Map.empty[String, Observation]
  private var inputRows = 0L

  def rowsIn: Long = inputRows

  def stage(spark: SparkSession): Unit = Files.reset(work)

  def expect(spark: SparkSession): Unit = {
    expected = oracle.results().map { case (q, path) => q -> Digest.of(spark.read.parquet(path)) }
    inputRows = Seq("documents", "events").map(t => Tables.table(spark, data, t).count()).sum
  }

  def pass(ctx: PassCtx): Unit = {
    val s = ctx.spark
    for (q <- queries) {
      val layer = if (q.startsWith("c")) "fraud" else "dedup"
      val (buildKey, execKey) =
        if (layer == "fraud") ("fraud.graph_s", "fraud.graph_s") else ("dedup.build_s", "dedup.exec_s")
      ctx.span(q, "harness") {
        val df = ctx.span(s"$layer.build", layer) {
          val (df, moved) = ctx.measured(buildKey)(SparkEntry.queries(q)(s, data))
          if (layer == "dedup") ctx.metrics("dedup.build_jobs") += moved.getOrElse("spark.jobs", 0.0)
          df
        }
        val obs = Observation(s"digest_${q}_${ctx.pass}")
        observed(q) = obs
        val cols = Digest.columns(df)
        ctx.span(s"$layer.exec", layer) {
          ctx.measured(execKey)(df.observe(obs, cols.head, cols.tail: _*)
            .write.format("noop").mode("overwrite").save())
        }
      }
    }
  }

  def check(ctx: PassCtx): Unit = for (q <- queries) {
    val m = observed(q).get
    val (h, n) = (m("h").asInstanceOf[java.math.BigDecimal], m("n").asInstanceOf[Long])
    val (eh, en) = expected(q)
    ctx.check(h.compareTo(eh) == 0 && n == en, s"$q digest ($h, $n) != oracle ($eh, $en)")
  }
}
