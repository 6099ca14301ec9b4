package perfbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

final case class Metric(value: Double, unit: String)

/** The one line a run ends with: whether every output checked out, how
  * many operations were attempted and failed, and the metrics by name. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Map[String, Metric]) {
  def toJson: String = Result.mapper.writeValueAsString(this)
}

object Result {
  private[perfbench] val mapper: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def fromJson(s: String): Result = mapper.readValue(s, classOf[Result])

  /** Metrics in the order given, so the printed line reads like the spec. */
  def metrics(ms: (String, Metric)*): Map[String, Metric] = ListMap(ms: _*)
}
