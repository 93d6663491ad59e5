package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, PipelineRunner, SparkEntry}
import graft.forex.ForexPipeline
import graft.store.IncrementalStore

/** The measured process of one benchmark run. It drives the program only
  * through its public entry points (`PipelineRunner.runOnce`,
  * `SparkEntry.queries`), one operation at a time (a closed loop with one
  * client), and appends one JSON line per fact to `<work>/events.jsonl`:
  * set-up phases, every timed operation, the gold check (run in this JVM
  * after the timed region) and, in a traced run, the Spark listener
  * events. perfbench/run.py turns that log into metrics.
  *
  * Usage: BenchMain --workload <name> --work <dir> --data <dir> --seed <n>
  *          --trace <0|1> --cores <n> [--queries a,b,... --passes <n>]
  */
object BenchMain {

  // one JSON line per fact, flushed as it happens so a killed run leaves
  // its progress behind
  private var log: java.io.PrintWriter = _
  def emit(pairs: (String, Any)*): Unit = log.synchronized {
    log.println(Json.obj(pairs: _*))
    log.flush()
  }

  // epoch milliseconds with sub-millisecond resolution, on one clock
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Run `body` as one timed operation; failures are recorded, not thrown. */
  def op(name: String, kind: String, module: String, extra: => Seq[(String, Any)] = Nil)(
      body: => Unit): Boolean = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val g0 = gcMs
    val t0 = nowMs
    val err = try { body; None } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $kind $name failed: $e")
      e.printStackTrace()
      Some(e.toString.linesIterator.nextOption().getOrElse("").take(300))
    }
    val t1 = nowMs
    emit((Seq("ev" -> "op", "name" -> name, "kind" -> kind, "module" -> module,
      "t0" -> t0, "t1" -> t1, "ok" -> err.isEmpty, "err" -> err,
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0),
      "gc_ms" -> (gcMs - g0)) ++ extra): _*)
    err.isEmpty
  }

  def phase[T](name: String)(body: => T): T = {
    val t0 = nowMs
    val r = body
    emit("ev" -> "phase", "name" -> name, "t0" -> t0, "t1" -> nowMs)
    r
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    log = new java.io.PrintWriter(new java.io.FileWriter(s"$work/events.jsonl"))
    val traced = opts("trace") == "1"
    // full call-site stacks on SQL executions, for attribution by module
    System.setProperty("spark.callstack.depth", "256")
    val spark = phase("session") {
      GraftSession.builder(opts("cores").toInt)
        .appName("perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(_.install(spark))
    emit("ev" -> "host", "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    try opts("workload") match {
      case "pipeline_daily" => Pipeline.run(spark, opts, traced)
      case _ => Queries.run(spark, opts)
    } finally {
      // stopping the session delivers every queued listener event first
      spark.stop()
      tracer.foreach(_.events.foreach(log.println))
      log.close()
    }
  }

  /** The JVM's high-water RSS so far, recorded right after the last timed
    * pass so that no output check counts in it.
    */
  def emitPeakRss(): Unit = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    emit("ev" -> "rss", "peak_kb" -> hwm)
  }
}

/** pipeline_daily: a full-refresh bootstrap of the history (set-up, which
  * also warms the JVM), then every entry of the landing plan written by the
  * input generator (`<data>/plan.tsv`: kind, directory, date per line) as
  * one timed operation.
  */
object Pipeline {
  import BenchMain._

  private val GoldCols = Seq("unique_id", "timeframe", "candle_start", "open_price",
    "high_price", "low_price", "close_price", "sma_20", "sma_50", "price_diff")

  def run(spark: SparkSession, opts: Map[String, String], traced: Boolean): Unit = {
    val data = opts("data")
    val wh = s"${opts("work")}/warehouse"
    val plan = Files.readAllLines(Paths.get(s"$data/plan.tsv")).asScala.toSeq
      .map(_.split('\t')).map { case Array(k, rel, d) => (k, rel, LocalDate.parse(d)) }
    def landing(kind: String, rel: String, day: LocalDate): Unit = {
      val now = Timestamp.valueOf(day.plusDays(1).atStartOfDay())
      if (kind == "daily") PipelineRunner.runOnce(spark, s"$data/$rel", wh, now = now)
      else PipelineRunner.runOnce(spark, s"$data/$rel", wh, now = now, backfillDate = Some(day))
    }
    phase("bootstrap") {
      PipelineRunner.runOnce(spark, s"$data/history", wh, fullRefresh = true,
        now = Timestamp.valueOf(plan.head._3.atStartOfDay()))
    }
    val t0 = nowMs
    plan.foreach { case (kind, rel, day) =>
      val started = System.currentTimeMillis()
      op(s"$kind:$day", kind, "PipelineRunner",
        if (traced) written(wh, started) else Nil) { landing(kind, rel, day) }
    }
    emit("ev" -> "pass", "pass" -> 0, "t0" -> t0, "t1" -> nowMs)
    emitPeakRss()
    phase("check") {
      val silver = IncrementalStore.readTable(spark, s"$wh/stg_ticks")
        .select("observed_at", "open_price", "high_price", "low_price", "close_price")
      val expected = ForexPipeline.gold(silver).select(GoldCols.map(col): _*)
      val stored = IncrementalStore.readTable(spark, s"$wh/fct_timeframes")
        .select(GoldCols.map(col): _*)
      // both directions, as multisets: rows the store lacks or holds in excess
      emit("ev" -> "gold_check", "stored_rows" -> stored.count(),
        "expected_rows" -> expected.count(),
        "missing_rows" -> expected.exceptAll(stored).count(),
        "extra_rows" -> stored.exceptAll(expected).count())
    }
  }

  /** Data files under the warehouse written since `sinceMs` (traced runs
    * only, measured after the operation ends).
    */
  private def written(wh: String, sinceMs: Long): Seq[(String, Any)] = {
    val files = Files.walk(Paths.get(wh)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs).toSeq
    Seq("files_written" -> files.size, "bytes_written" -> files.map(Files.size).sum)
  }
}

/** Query workloads: a warm-up pass that also writes each query's full
  * output for the oracle check, then `--passes` timed passes, each in its
  * own seeded order. A timed operation is the query function plus a full
  * `noop`-sink write of its result.
  */
object Queries {
  import BenchMain._

  private val modules: Seq[(String, Map[String, _])] = {
    import graft.queries._
    Seq("ForexQueries" -> ForexQueries.queries, "IndicatorQueries" -> IndicatorQueries.queries,
      "TextQueries" -> TextQueries.queries, "DedupQueries" -> DedupQueries.queries,
      "SimilarityQueries" -> SimilarityQueries.queries, "MediaQueries" -> MediaQueries.queries,
      "RelationalQueries" -> RelationalQueries.queries, "SamplingQueries" -> SamplingQueries.queries,
      "StoreQueries" -> StoreQueries.queries, "PipelineQueries" -> PipelineQueries.queries,
      "CurationQueries" -> CurationQueries.queries, "MultiSymQueries" -> MultiSymQueries.queries,
      "DriftQueries" -> DriftQueries.queries, "FormatQueries" -> FormatQueries.queries,
      "FeatureQueries" -> FeatureQueries.queries, "KllQueries" -> KllQueries.queries)
  }

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("unknown")

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val data = opts("data")
    val out = s"${opts("work")}/out"
    val names = opts("queries").split(',').toSeq
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val seed = opts("seed").toLong
    def order(pass: Int) = new scala.util.Random(seed * 7919 + pass).shuffle(names)
    def build(name: String): DataFrame = registry(name)(spark, data)
    phase("warmup") {
      order(-1).foreach { n =>
        val t0 = nowMs
        val err = try { build(n).coalesce(1).write.mode("overwrite").parquet(s"$out/$n"); None }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] warm-up $n failed: $e")
          Some(e.toString.linesIterator.nextOption().getOrElse("").take(300))
        }
        emit("ev" -> "warmup_query", "name" -> n, "t0" -> t0, "t1" -> nowMs,
          "err" -> err, "oracle_sql" -> oracle.get(n))
      }
    }
    for (pass <- 0 until opts("passes").toInt) {
      val t0 = nowMs
      order(pass).foreach { n =>
        op(n, if (n.startsWith("stream_")) "stream" else "fixpoint", moduleOf(n)) {
          build(n).write.format("noop").mode("overwrite").save()
        }
      }
      emit("ev" -> "pass", "pass" -> pass, "t0" -> t0, "t1" -> nowMs)
    }
    emitPeakRss()
  }
}
