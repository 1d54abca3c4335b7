package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Structured-Streaming surface of the engine: the same codegen'd geo
  * expressions run unchanged inside micro-batch plans (they are stateless
  * projections), windowed per-cell aggregation rides on watermarks, and
  * per-key session state uses mapGroupsWithState. The north rule is batch
  * (checkpoint/resume = Snapshots), so this is the streaming ingestion path
  * for live span feeds rather than the primary execution mode.
  */
object StreamingOps {

  /** Watermarked tumbling-window counts per cell: the streaming form of the
    * per-tile aggregation (late data beyond the watermark is dropped, state
    * is bounded). */
  def windowedCellCounts(enriched: DataFrame, tsCol: String,
                         watermark: String = "10 minutes",
                         window: String = "5 minutes"): DataFrame =
    enriched
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col("cell"))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup bounded by the watermark: duplicates of a doc
    * fingerprint arriving within the event-time window are dropped with
    * BOUNDED state (dropDuplicatesWithinWatermark evicts keys once the
    * watermark passes them — a plain dropDuplicates would grow state
    * forever on an unbounded feed). The fingerprint is the md5 of the
    * whitespace-normalized text (lower, trim, runs collapsed), so unlike
    * the batch exactDedup key (md5 of the raw text) it also drops copies
    * that differ only in case or spacing. */
  def dedupStream(docs: DataFrame, tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  final case class SpanEvent(user: Long, cell: Long, ts: java.sql.Timestamp)
  final case class CellSession(user: Long, nEvents: Long, nCells: Long, lastCell: Long)

  /** Per-user running session over the span stream via mapGroupsWithState:
    * counts events and distinct-cell transitions — the custom-state shape
    * (KeyValueGroupedDataset) the ingestion pipeline uses for per-entity
    * accumulators. */
  def sessionize(events: Dataset[SpanEvent]): Dataset[CellSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .mapGroupsWithState[CellSession, CellSession] {
        (user: Long, it: Iterator[SpanEvent], state: GroupState[CellSession]) =>
          var s = state.getOption.getOrElse(CellSession(user, 0, 0, Long.MinValue))
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            s = s.copy(
              nEvents = s.nEvents + 1,
              nCells = s.nCells + (if (e.cell != s.lastCell) 1 else 0),
              lastCell = e.cell)
          }
          state.update(s)
          s
      }
  }
}
