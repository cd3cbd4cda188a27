package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.pipeline.Completion.{InMemoryProductStatusService, ProductStatusService, RecordingSns, RecordingSqs, SnsClient, SnsMessage, SqsClient, SqsMessage}
import graft.pipeline.Control.{CollectionStatus, ExportStatusService, InMemoryStatusService, StatusItem}

/** The export's control plane (status table, product status, SQS and
  * SNS) as in-memory services behind timing decorators: `nanos` is the
  * time ExportJob.run spent in control-plane calls. */
final class TimedControl {
  val nanos = new AtomicLong

  private def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally nanos.addAndGet(System.nanoTime() - t0)
  }

  val status: ExportStatusService = new ExportStatusService {
    private val inner = new InMemoryStatusService
    def setStatus(c: String, s: CollectionStatus): Unit = timed(inner.setStatus(c, s))
    def incrementExportedCount(c: String): Unit = timed(inner.incrementExportedCount(c))
    def exportedFilesCount(c: String): Int = timed(inner.exportedFilesCount(c))
    def incrementSentCount(c: String): Unit = timed(inner.incrementSentCount(c))
    def sentFilesCount(c: String): Int = timed(inner.sentFilesCount(c))
    def statusItem(c: String): StatusItem = timed(inner.statusItem(c))
    def statuses(): Seq[String] = timed(inner.statuses())
  }

  def product(correlationId: String): ProductStatusService = new ProductStatusService {
    private val inner = new InMemoryProductStatusService(correlationId, sleeper = _ => ())
    def setCompletedStatus(): Unit = timed(inner.setCompletedStatus())
    def setFailedStatus(): Unit = timed(inner.setFailedStatus())
  }

  val sqs: SqsClient = new SqsClient {
    private val inner = new RecordingSqs
    def send(m: SqsMessage): Unit = timed(inner.send(m))
  }

  val sns: SnsClient = new SnsClient {
    private val inner = new RecordingSns
    def publish(m: SnsMessage): Unit = timed(inner.publish(m))
  }
}
