package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming discovery event: a URL entering the frontier. */
final case class StreamEntry(
    url: String,
    host: String,
    eventTime: java.sql.Timestamp,
    priority: Int)

/** Per-host politeness state: the last granted fetch slot (virtual ms). */
final case class HostState(lastSlotMs: Long)

final case class ScheduledFetch(
    url: String,
    host: String,
    fetchAtMs: Long,
    slot: Long)

/** Structured Streaming politeness scheduler (SURVEY.md §2.9): the
  * continuous counterpart of the batch engine's per-host token bucket.
  * Discovered URLs stream in; `flatMapGroupsWithState` keyed by host
  * assigns each a fetch slot `lastSlot + delay` — the per-host rate limit
  * the reference enforces with `asyncio.sleep(delay)`
  * (`/root/reference/src/web_crawler.py:240-242`) — with the last granted
  * slot carried as keyed state across micro-batches.
  *
  * State is per-host (small and keyed), outputs append-only — the shape
  * that runs unchanged against a Kafka frontier topic on a real cluster.
  */
object PoliteStream {

  def schedule(entries: Dataset[StreamEntry], delayMs: Long): Dataset[ScheduledFetch] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[StreamEntry], state: GroupState[HostState]) =>
          var last = state.getOption.map(_.lastSlotMs).getOrElse(-delayMs)
          // deterministic in-batch order: (priority, url)
          val out = rows.toSeq.sortBy(e => (e.priority, e.url)).map { e =>
            last += delayMs
            ScheduledFetch(e.url, host, last, last / delayMs)
          }
          if (out.nonEmpty) state.update(HostState(last))
          out.iterator
      }
  }
}
