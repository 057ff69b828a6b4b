package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.{BusProvider, BusRegistry, InMemoryBus}

/** Ack bookkeeping shared by the pipeline runners: on each completed
  * micro-batch (QueryProgress fires after the batch's offset/commit logs
  * are durable and the sink returned), advance the bus subscription's
  * acked prefix to the batch's end offset — the reference's
  * ack-on-publish-success (`pubsub_pipeline.py:82-84`) with a WAL under
  * it. Events arriving before the query's runId is known are buffered and
  * replayed by `bind()`, so no batch commit can be missed. */
private[streaming] final class AckOnCommitListener(
    session: SparkSession, sub: String, busSpec: String) extends StreamingQueryListener {
  // driver-side: one resolved transport for the listener's lifetime
  private val bus = BusRegistry.resolve(busSpec)
  import StreamingQueryListener._

  @volatile private var runId: java.util.UUID = _
  private val pending = new scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]

  def bind(id: java.util.UUID): Unit = synchronized {
    runId = id
    pending.filter(_.runId == id).foreach(ack)
    pending.clear()
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    if (runId == null) pending += e.progress
    else if (e.progress.runId == runId) ack(e.progress)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (e.runId == runId) session.streams.removeListener(this)

  // Spark lists a query's sources in plan order, so the first one need
  // not be this subscription (a transform may union another stream in
  // front): ack only the source that names `sub`
  private val description = BusProvider.describe(sub)

  private def ack(p: StreamingQueryProgress): Unit =
    p.sources.find(_.description == description).foreach { s =>
      Option(s.endOffset).map(_.trim).filter(_.nonEmpty)
        .foreach { o =>
          // a lost ack RPC is non-fatal by design: acks are cumulative,
          // so the next batch's ack covers this prefix (the data itself
          // is WAL-protected — no redelivery, no duplicate)
          try bus.commit(sub, o.toLong)
          catch { case e: InMemoryBus.AckRpcError =>
            System.err.println(s"[bus] ack lost on $sub (will heal): ${e.getMessage}")
          }
        }
    }
}
