package graft.forex

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.IncrementalStore

/** Incremental (micro-batch) materialization of silver + gold — the
  * reference's daily-cron execution model (daily_run.yml:4-6) as plain
  * batch functions.
  *
  * Silver (stg_eurusd.sql:14-40): strict high-watermark — only ticks with
  * `observed_at > max(observed_at)` enter the batch; late rows at or below
  * the watermark are dropped (reference semantics, SURVEY §2.10).
  *
  * Gold (fct_eurusd_timeframes.sql:15-86): 60-day lookback — re-reads
  * trailing silver history so ROWS-frame SMAs are correct across batch
  * boundaries, then wholesale-replaces the recomputed candle-day
  * partitions (SURVEY §4.3 option 1).
  *
  * `now` is injectable so tests are deterministic (no wall-clock in data).
  */
object ForexIncremental {

  final val LookbackDays = 60

  /** One silver batch: watermark-filter the raw ticks, dedup, upsert. */
  def runSilver(
      events: DataFrame, silverDir: String,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val spark = events.sparkSession
    val wm = IncrementalStore.highWatermark(spark, silverDir, "observed_at")
    val fresh = wm match {
      case Some(w) => events.filter(col("ts") > lit(w))
      case None => events
    }
    val batch = ForexPipeline.silver(fresh)
      .withColumn("dbt_updated_at", lit(now))
    IncrementalStore.upsertByKey(
      batch, silverDir, tsCol = "observed_at", keyCols = Seq("observed_at"))
  }

  /** Single-day silver backfill (the reference's `--date` mode,
    * extract_forex.py:276 + daily_run.yml:10-24): reprocess exactly one
    * historical day, bypassing the high-watermark (which would drop any day
    * at or below max(observed_at)). Idempotent: the MERGE upsert replaces
    * that day's rows by key, and only that day's partition is rewritten.
    */
  def runSilverBackfill(
      events: DataFrame, silverDir: String, date: java.time.LocalDate,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val d = java.sql.Date.valueOf(date)
    val dayEvents = events.filter(to_date(col("ts")) === lit(d))
    val batch = ForexPipeline.silver(dayEvents)
      .withColumn("dbt_updated_at", lit(now))
    IncrementalStore.upsertByKey(
      batch, silverDir, tsCol = "observed_at", keyCols = Seq("observed_at"))
  }

  /** How far a changed silver day reaches in the gold table. Backward: the
    * +2h shift makes 4h/12h candles that START late on day d-1 absorb day-d
    * ticks before 02:00, so day d-1 must be rewritten too. Forward: a candle
    * on day x reads candles back to x-49 through its ROWS-frame sma_50 (the
    * 24h timeframe spends one candle per day; shorter timeframes reach less
    * far), so days d+1..d+49 must be rewritten; day d+50's frame starts at
    * d+1 and never sees day d.
    */
  final val BackfillForwardDays = 49

  /** Single-day gold backfill: recompute every candle-day partition a change
    * to `date`'s silver data can reach — [d-1, d+49] (see
    * BackfillForwardDays). This mirrors the reference's incremental run,
    * which re-merges its whole 60-day lookback window every batch
    * (fct_eurusd_timeframes.sql:25-29) and therefore repairs neighbors for
    * free; rewriting only day d would leave d-1's shifted candles and the
    * SMAs of up to 49 following days stale whenever the backfill actually
    * changed the day. Cost stays O(1) in table size: ~111 days of silver
    * read, <=51 day-partitions rewritten, independent of history length.
    */
  def runGoldBackfill(
      spark: SparkSession, silverDir: String, goldDir: String,
      date: LocalDate,
      now: Timestamp = new Timestamp(0L)): Unit =
    rewriteGoldDays(spark, silverDir, goldDir,
      Some(date.minusDays(1)), Some(date.plusDays(BackfillForwardDays)), now)

  /** One gold batch: recompute the candle days new silver ticks can reach
    * and replace those day-partitions (clustered by timeframe, the
    * reference's `cluster_by`). New ticks are later than every tick gold
    * has seen, so they land on the gold watermark's day or after it — and,
    * through the +2h shift, on the day before it (see BackfillForwardDays):
    * the rewrite is [day(watermark) - 1, ∞). No gold yet: everything.
    */
  def runGold(
      spark: SparkSession, silverDir: String, goldDir: String,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val first = IncrementalStore.highWatermark(spark, goldDir, "candle_start")
      .map(_.toInstant.atZone(zone).toLocalDate.minusDays(1))
    rewriteGoldDays(spark, silverDir, goldDir, first, None, now)
  }

  /** Recompute gold for candle days [first, last] (None: unbounded) and
    * replace exactly those day-partitions. Silver is read from LookbackDays
    * before `first`, so the earliest rewritten day's ROWS-frame SMAs see
    * their preceding candles, through the day after `last`: shifted buckets
    * (tz +2h) put early-next-day ticks into day-`last` candles. Candles
    * before `first` are computed from a partial lookback and dropped, never
    * written. Both bounds are silver partition filters.
    */
  private def rewriteGoldDays(
      spark: SparkSession, silverDir: String, goldDir: String,
      first: Option[LocalDate], last: Option[LocalDate], now: Timestamp): Unit = {
    def day(d: LocalDate) = lit(java.sql.Date.valueOf(d))
    def between(c: Column, lo: Option[LocalDate], hi: Option[LocalDate]) =
      lo.fold(lit(true))(d => c >= day(d)) && hi.fold(lit(true))(d => c <= day(d))
    val silver = IncrementalStore.readTable(spark, silverDir)
      .filter(between(col(IncrementalStore.PartitionCol),
        first.map(_.minusDays(LookbackDays)), last.map(_.plusDays(1))))
      .select("observed_at", "open_price", "high_price", "low_price", "close_price")
    val batch = ForexPipeline.gold(silver)
      .filter(between(to_date(col("candle_start")), first, last))
      .withColumn("dbt_updated_at", lit(now))
    IncrementalStore.overwriteDayPartitions(
      batch, goldDir, tsCol = "candle_start", clusterBy = Seq("timeframe"))
  }
}
