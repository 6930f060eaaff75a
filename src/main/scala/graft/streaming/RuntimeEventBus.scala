package graft.streaming

import java.util.concurrent.CopyOnWriteArrayList
import scala.jdk.CollectionConverters._

/** One observed runtime fact — the graft analog of the reference's
  * `RuntimeEvent` (`/root/reference/src/Events/RuntimeEvent.cs:5-21`)
  * and `Incident` (`src/Incidents/Incident.cs:7-17`), collapsed to the
  * fields Spark's runtime actually produces. `name` is the event type
  * (dot-namespaced like the reference's `query.run` / `dlq.enqueue`
  * convention); `entity` is the supervised query or source name.
  */
final case class RuntimeEvent(
    name: String,
    entity: String,
    timestampUtcMs: Long,
    queryId: Option[String] = None,
    success: Option[Boolean] = None,
    attempt: Option[Int] = None,
    batchId: Option[Long] = None,
    message: Option[String] = None
)

/** A consumer of runtime events — the reference's `IRuntimeEventSink`
  * / `IIncidentSink` (`RuntimeEventBus.cs:7-10`, `IncidentBus.cs:7-10`)
  * as one trait: graft has no async publish because every emission is
  * already off the hot path (listener bus / foreachBatch error arm).
  */
trait RuntimeEventSink {
  def publish(e: RuntimeEvent): Unit
}

/** Process-wide event registry — the reference's static
  * `RuntimeEventBus.SetSink` (`RuntimeEventBus.cs:12-19`) generalized
  * to a sink LIST so a logger and a metrics forwarder can coexist, with
  * the `RuntimeEvents.TryPublishAsync` swallow-all contract
  * (`RuntimeEvents.cs:10-13`): a throwing sink must never take down the
  * query it is observing, so publish catches everything per-sink.
  *
  * This exists so users sink lifecycle incidents (query started /
  * failed / restarted / gave-up, DLQ envelope written) into their own
  * logging instead of polling [[Supervisor.restartCount]]. The emitters
  * are [[Supervisor]] (listener-thread lifecycle events) and
  * [[ErrorSink.guardedForeachBatch]] (DLQ/skip incidents); both also
  * accept a per-instance callback for library embedders who want no
  * global state — the bus is the default callback.
  */
object RuntimeEventBus extends RuntimeEventSink {

  private val sinks = new CopyOnWriteArrayList[RuntimeEventSink]()

  def addSink(sink: RuntimeEventSink): Unit = sinks.add(sink)
  def removeSink(sink: RuntimeEventSink): Unit = sinks.remove(sink)
  def clearSinks(): Unit = sinks.clear()

  /** True iff anyone is listening — emitters whose payload costs real
    * work (a row count is one extra pass over the micro-batch) guard on
    * this so an UNOBSERVED loop pays nothing.
    */
  def hasSinks: Boolean = !sinks.isEmpty

  /** Deliver to every registered sink; a sink failure is contained
    * (stderr note, delivery continues) — the TryPublish contract.
    */
  override def publish(e: RuntimeEvent): Unit =
    sinks.asScala.foreach { s =>
      try s.publish(e)
      catch {
        case t: Throwable =>
          System.err.println(s"[graft-events] sink ${s.getClass.getSimpleName} threw: $t")
      }
    }

  /** Ingest-loop ride-along emitters (completes the Supervisor/ErrorSink
    * surface): every incremental store loop reports `batch.ingested`
    * (rows appended this trigger) and `batch.compacted` (output file
    * count of a maintenance rewrite) through the bus, so loop health is
    * sinkable without parsing stdout. `entity` is the store directory —
    * the one name a multi-loop deployment can always correlate on. The
    * store loops pass a count they already hold ([[StoreLoop.append]]
    * counts its materialized frame to size the append), so observing a
    * loop adds no pass over the batch. `rows` stays BY-NAME and is only
    * evaluated when [[hasSinks]], so an emitter without a ready count
    * costs nothing while nobody listens.
    */
  def ingested(entity: String, batchId: Option[Long], rows: => Long): Unit =
    if (hasSinks)
      publish(RuntimeEvent("batch.ingested", entity, System.currentTimeMillis(),
        batchId = batchId, success = Some(true), message = Some(s"rows=$rows")))

  def compacted(entity: String, batchId: Option[Long], files: Long): Unit =
    if (hasSinks)
      publish(RuntimeEvent("batch.compacted", entity, System.currentTimeMillis(),
        batchId = batchId, success = Some(true), message = Some(s"files=$files")))

  /** One-line stderr logger — `LoggerIncidentSink.cs:9-20` parity; the
    * out-of-the-box sink for `RuntimeEventBus.addSink(loggerSink)`.
    */
  val loggerSink: RuntimeEventSink = new RuntimeEventSink {
    override def publish(e: RuntimeEvent): Unit =
      System.err.println(
        s"[incident] ${java.time.Instant.ofEpochMilli(e.timestampUtcMs)} ${e.name} " +
          s"entity=${e.entity}" +
          e.queryId.fold("")(q => s" queryId=$q") +
          e.success.fold("")(s => s" success=$s") +
          e.attempt.fold("")(a => s" attempt=$a") +
          e.batchId.fold("")(b => s" batch=$b") +
          e.message.fold("")(m => s" msg=${m.linesIterator.nextOption().getOrElse("")}")
      )
  }
}
