package graft.forex

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.store.IncrementalStore

/** MERGE-semantics regression tests (SURVEY §5 item 4): two-batch
  * incremental == one-shot, idempotent re-runs, late-row drop.
  */
class IncrementalSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_inc").toString

  private def events: DataFrame = Tables.events(spark, sf0001)

  private def midpoint: Timestamp = {
    val r = events.agg(min(col("ts")), max(col("ts"))).first()
    new Timestamp((r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2)
  }

  private def sortedRows(df: DataFrame, drop: Seq[String]): Seq[String] = {
    val cols = df.columns.filterNot(drop.contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  test("silver: batch(day1..k) then batch(rest) equals one-shot") {
    val (inc, once) = (tmp(), tmp())
    val m = midpoint
    ForexIncremental.runSilver(events.filter(col("ts") <= lit(m)), inc)
    ForexIncremental.runSilver(events, inc) // watermark picks up the rest
    ForexIncremental.runSilver(events, once)
    val a = sortedRows(IncrementalStore.readTable(spark, inc), Seq("dbt_updated_at", "p_date"))
    val b = sortedRows(IncrementalStore.readTable(spark, once), Seq("dbt_updated_at", "p_date"))
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("silver: re-running the same batch is a no-op (idempotent upsert)") {
    val dir = tmp()
    ForexIncremental.runSilver(events, dir)
    val before = sortedRows(IncrementalStore.readTable(spark, dir), Seq("dbt_updated_at", "p_date"))
    ForexIncremental.runSilver(events, dir)
    val after = sortedRows(IncrementalStore.readTable(spark, dir), Seq("dbt_updated_at", "p_date"))
    assert(before === after)
  }

  test("silver: late rows at/below the watermark are dropped (strict >)") {
    val dir = tmp()
    val m = midpoint
    ForexIncremental.runSilver(events, dir)
    val n1 = IncrementalStore.readTable(spark, dir).count()
    // replay an old slice — everything is <= watermark, nothing may change
    ForexIncremental.runSilver(events.filter(col("ts") <= lit(m)), dir)
    assert(IncrementalStore.readTable(spark, dir).count() === n1)
  }

  test("backfill --date: re-running one historical day equals one-shot") {
    val (silverDir, goldDir) = (tmp(), tmp())
    val (silverOnce, goldOnce) = (tmp(), tmp())
    // pick a day ~3 days before the end of the data
    val maxTs = events.agg(max(col("ts"))).first().getTimestamp(0)
    val day = maxTs.toLocalDateTime.toLocalDate.minusDays(3)
    val d = java.sql.Date.valueOf(day)
    // build the store WITHOUT day N-3 (days after it exist), then backfill it
    ForexIncremental.runSilver(events.filter(to_date(col("ts")) =!= lit(d)), silverDir)
    ForexIncremental.runGold(spark, silverDir, goldDir)
    ForexIncremental.runSilverBackfill(events, silverDir, day)
    ForexIncremental.runGoldBackfill(spark, silverDir, goldDir, day)
    // one-shot over everything
    ForexIncremental.runSilver(events, silverOnce)
    ForexIncremental.runGold(spark, silverOnce, goldOnce)
    val sA = sortedRows(IncrementalStore.readTable(spark, silverDir), Seq("dbt_updated_at", "p_date"))
    val sB = sortedRows(IncrementalStore.readTable(spark, silverOnce), Seq("dbt_updated_at", "p_date"))
    assert(sA === sB)
    // gold: the backfill CHANGED day d's silver (the day was absent from the
    // initial build), which staled day d-1's shifted 4h/12h candles and the
    // SMAs of every following day — the repair must rewrite all of them, so
    // the ENTIRE table must equal the one-shot recompute, not just day d
    val gA = sortedRows(IncrementalStore.readTable(spark, goldDir),
      Seq("dbt_updated_at", "p_date"))
    val gB = sortedRows(IncrementalStore.readTable(spark, goldOnce),
      Seq("dbt_updated_at", "p_date"))
    assert(gA === gB)
    assert(gA.nonEmpty)
  }

  test("gold: incremental after silver growth equals one-shot recompute") {
    val (silverInc, goldInc, silverOnce, goldOnce) = (tmp(), tmp(), tmp(), tmp())
    val m = midpoint
    // incremental: half, gold, then full, gold again
    ForexIncremental.runSilver(events.filter(col("ts") <= lit(m)), silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    ForexIncremental.runSilver(events, silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    // one-shot
    ForexIncremental.runSilver(events, silverOnce)
    ForexIncremental.runGold(spark, silverOnce, goldOnce)
    val a = sortedRows(IncrementalStore.readTable(spark, goldInc), Seq("dbt_updated_at", "p_date"))
    val b = sortedRows(IncrementalStore.readTable(spark, goldOnce), Seq("dbt_updated_at", "p_date"))
    assert(a === b)
    assert(a.nonEmpty)
  }

  /** `days` days of synthetic ticks (one every 20 minutes from 2024-01-01
    * UTC) — longer than the 60-day gold lookback, which the test data is
    * not.
    */
  private def longHistory(days: Int): DataFrame =
    spark.range(days * 72L).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 1200L).as("ts"),
      (lit(1.1) + sin(col("id") / 50.0) / 100.0).as("value"))

  test("gold: daily runs past the 60-day lookback equal one-shot recompute") {
    val (silverInc, goldInc, silverOnce, goldOnce) = (tmp(), tmp(), tmp(), tmp())
    val events = longHistory(75)
    def before(day: Int) = new Timestamp(1704067200000L + day * 86400000L)
    // bootstrap 72 days, then land one day per run
    for (day <- 72 to 75) {
      ForexIncremental.runSilver(events.filter(col("ts") < lit(before(day))), silverInc)
      ForexIncremental.runGold(spark, silverInc, goldInc)
    }
    ForexIncremental.runSilver(events, silverOnce)
    ForexIncremental.runGold(spark, silverOnce, goldOnce)
    val a = sortedRows(IncrementalStore.readTable(spark, goldInc), Seq("dbt_updated_at", "p_date"))
    val b = sortedRows(IncrementalStore.readTable(spark, goldOnce), Seq("dbt_updated_at", "p_date"))
    assert(a.size === b.size)
    assert(a === b)
  }
}
