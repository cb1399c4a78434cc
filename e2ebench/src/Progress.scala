package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch progress of the ingest sinks, from Spark's
  * StreamingQueryListener.
  */
final class Progress extends StreamingQueryListener {
  final case class Batch(id: java.util.UUID, endNs: Long, rows: Long, durationMs: Map[String, Long])

  val batches = new ConcurrentLinkedQueue[Batch]()
  /** Time of the latest batch with rows, per streaming query. */
  val lastRowsNs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => System.err.println(s"[e2ebench] ingest stream ${e.id} failed: ${x.linesIterator.next()}"))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val now = System.nanoTime()
    batches.add(Batch(e.progress.id, now, e.progress.numInputRows,
      e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    if (e.progress.numInputRows > 0) lastRowsNs.put(e.progress.id, now)
  }
}
