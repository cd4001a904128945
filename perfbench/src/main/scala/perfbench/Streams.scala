package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Engine, PerfbenchAccess}
import graft.operators.StatOps
import graft.streaming._

/** The ten streaming twins that `graft.Bench` times as `organic_stream_*`,
  * rebuilt from the same `graft.streaming` operators over the same replay
  * corpora. Each twin names the corpus it reads (written once per run
  * through `FileReplay`), the order the corpus is replayed in, its output
  * mode, and the query it runs over the replayed stream.
  *
  * `survey.py` measures all ten; the `stream_replay` mix is chosen from
  * those whose output repeats exactly across runs (README.md).
  */
final case class Twin(
    name: String,
    order: Seq[String],
    outputMode: String,
    source: (SparkSession, String) => DataFrame,
    query: (SparkSession, String, DataFrame) => DataFrame)

object Streams {

  private def events(s: SparkSession, sf: String) = Engine.table(s, sf, "events")
  private def documents(s: SparkSession, sf: String) = Engine.table(s, sf, "documents")

  private def bucketed(s: SparkSession, sf: String) = events(s, sf).select(
    StatOps.valueBucket(col("value")).as("b"),
    expr("(ts - ts % 1000) div 86400000000000").as("day"),
    expr("(ts - ts % 1000) div 1000000").as("ms"))

  private def bucketTagged(src: DataFrame) =
    src.select(col("b"), col("day"), (col("ms") / 1000.0).cast("timestamp").as("event_time"))

  val all: Seq[Twin] = Seq(
    // near-duplicate star edges over the document corpus
    Twin("organic_stream_neardedup", Seq("doc_id"), "append",
      (s, sf) => documents(s, sf).selectExpr("doc_id", "text"),
      (_, _, src) => StreamNearDedup.starEdges(src).toDF()),
    // clicks enriched with the latest view per user, event-time ordered
    Twin("organic_stream_asof", Seq("ms", "id"), "append",
      (s, sf) => events(s, sf)
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("key"), col("event_id").as("id"),
          when(col("event_type") === "click", 1).otherwise(0).as("side"),
          (col("ts") / 1000000L).cast("long").as("ms")),
      (_, _, src) => StreamAsof.asofMatches(
        src.select(col("key"), col("id"), col("side"),
          (col("ms") / 1000.0).cast("timestamp").as("event_time")),
        watermark = "0 seconds").toDF()),
    // count-min sketch cells, re-emitted as they change
    Twin("organic_stream_cms", Seq("doc_id"), "update",
      (s, sf) => documents(s, sf).selectExpr("doc_id", "text"),
      (_, _, src) => StreamHeavyHitters.cells(src).toDF()),
    // changelog resolution: upserts and deletes per key, seq ordered
    Twin("organic_stream_changelog", Seq("seq", "key"), "update",
      (s, sf) => {
        val docs = documents(s, sf).selectExpr("doc_id", "substring(text, 1, 32) AS t")
        docs.select(col("doc_id").as("key"), lit(1L).as("seq"),
            lit("upsert").as("op"), col("t").as("payload"))
          .unionAll(docs.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("key"), lit(2L).as("seq"),
              lit("upsert").as("op"), upper(col("t")).as("payload")))
          .unionAll(docs.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("key"), lit(3L).as("seq"),
              lit("delete").as("op"), lit("").as("payload")))
      },
      (_, _, src) => StreamChangelog.resolved(src).toDF()),
    // rolling-quantile histogram cells per day
    Twin("organic_stream_rquantiles", Seq("ms", "b"), "append",
      bucketed,
      (_, _, src) => StreamQuantiles.mergedCells(bucketTagged(src),
        watermark = "0 seconds").toDF()),
    // per-user funnel conversions, emitted watermark-final
    Twin("organic_stream_funnel", Seq("ms", "user_id"), "append",
      (s, sf) => events(s, sf).select(col("user_id"), col("event_type"),
        expr("ts - ts % 1000").as("tsn"), expr("(ts - ts % 1000) div 1000000").as("ms")),
      (_, _, src) => StreamFunnel.conversions(
        src.select(col("user_id"), col("event_type"), col("tsn"),
          timestamp_micros(expr("tsn div 1000")).as("event_time")),
        Seq("signup", "view", "click", "purchase"),
        2L * 86400000000000L, watermark = "0 seconds").toDF()),
    // daily OHLC bars over the events value series
    Twin("organic_stream_ohlc", Seq("tsn", "event_id"), "append",
      (s, sf) => events(s, sf).select(col("event_id"),
        expr("ts - ts % 1000").as("tsn"), col("value")),
      (_, _, src) => StreamOhlc.dailyBars(
        src.select(expr("tsn div 86400000000000").as("day"),
          col("tsn"), col("event_id"), col("value"),
          timestamp_micros(expr("tsn div 1000")).as("event_time")),
        watermark = "0 seconds").toDF()),
    // exactly-once daily distribution cells (the drift feed)
    Twin("organic_stream_drift", Seq("ms", "b"), "append",
      bucketed,
      (_, _, src) => StreamDrift.dailyCells(bucketTagged(src),
        watermark = "0 seconds").toDF()),
    // 60 s activity intervals against incident windows around errors
    Twin("organic_stream_interval", Seq("end", "side", "id"), "append",
      (s, sf) => {
        val ev = events(s, sf).selectExpr("event_id", "(ts - ts % 1000) AS tsn",
          "event_type", "value")
        ev.selectExpr("event_id AS id", "0 AS side", "tsn AS start",
            "tsn + 60000000000 AS end")
          .unionAll(ev.filter("event_type = 'error' AND value >= 200.0")
            .selectExpr("event_id AS id", "1 AS side",
              "tsn - 600000000000 AS start", "tsn + 600000000000 AS end"))
      },
      (_, _, src) => StreamInterval.overlapMatches(
        src.select(col("id"), col("side"), col("start"), col("end"),
          (col("end") / 1.0e9).cast("timestamp").as("event_time")),
        watermark = "0 seconds", shift = 40, maxBuckets = 4).toDF()),
    // incremental ingest of a document shard against the standing corpus
    Twin("organic_stream_ingest", Seq("doc_id"), "append",
      (s, sf) => documents(s, sf)
        .filter(col("doc_id") % 5 === 0 && col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"), col("lang"), col("text")),
      (s, sf, src) => {
        val standing = documents(s, sf).filter(col("doc_id") % 5 =!= 0)
          .select(PerfbenchAccess.docFp(col("text")).as("fp")).distinct().localCheckpoint()
        StreamIngest.survivors(src, standing, snapshotStatic = true).toDF()
      }))

  val byName: Map[String, Twin] = all.map(t => t.name -> t).toMap
}
