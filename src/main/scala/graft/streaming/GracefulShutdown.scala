package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** R7 graceful shutdown: the reference traps SIGINT/SIGTERM, cancels the
  * context, and closes the Kafka writer/reader before exit
  * (go/producer/main.go:27-41, go/consumer/main.go:27-39). The Spark
  * analog: a JVM shutdown hook that stops every active StreamingQuery —
  * StreamingQuery.stop() interrupts the trigger thread and commits the
  * checkpoint state, so restart resumes exactly-once from the WAL.
  */
object GracefulShutdown {

  @volatile private var installed = false

  /** Install the stop-all-queries hook once per JVM. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!installed) {
      installed = true
      sys.addShutdownHook {
        spark.streams.active.foreach { q =>
          // mirror reference: log-and-continue, so one failing stop does
          // not keep the other queries from committing
          try q.stop()
          catch {
            case e: Throwable =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"shutdown: stopping streaming query ${q.id} failed", e)
          }
        }
      }
    }
  }

  /** Run queries until any terminates or the JVM is signalled — the
    * reference's blocking main loop. */
  def awaitAny(spark: SparkSession, queries: Seq[StreamingQuery]): Unit = {
    install(spark)
    if (queries.nonEmpty) spark.streams.awaitAnyTermination()
  }

  /** Bounded variant for tests (read-until-deadline, the reference's
    * test discipline). Returns true if a query terminated in time. */
  def awaitAny(spark: SparkSession, timeoutMs: Long): Boolean = {
    install(spark)
    spark.streams.awaitAnyTermination(timeoutMs)
  }
}
