package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** R6 config resolution: env > file > defaults — the reference's exact
  * layering (go/producer/config.go:18-30: LoadConfig reads the JSON file,
  * fills defaults for the keys it left unset, then applies env vars on
  * top).
  *
  * File format is `key=value` properties (one per line, # comments) — no
  * external parser dependency. Env keys are the config key upper-cased
  * with dots replaced by underscores and a GRAFT_ prefix
  * (`kafka.bootstrap.servers` ← `GRAFT_KAFKA_BOOTSTRAP_SERVERS`).
  */
final case class EngineConfig(values: Map[String, String]) {
  def get(key: String): Option[String] = values.get(key)
  def getOrElse(key: String, default: String): String =
    values.getOrElse(key, default)
  def getInt(key: String): Option[Int] =
    values.get(key).flatMap(v => Try(v.toInt).toOption)
}

object EngineConfig {

  val defaults: Map[String, String] = Map(
    // reference defaults: producer.go:61 interval, consumer.go:103-104
    "generator.interval.ms" -> "2000",
    "kafka.fetch.min.bytes" -> "10000",
    "kafka.fetch.max.bytes" -> "10000000",
    "kafka.input.topic" -> "input-words",
    "kafka.output.topic" -> "word-count-output",
    "window.duration" -> "1 minute",
    "watermark.delay" -> "10 seconds")

  def envKey(key: String): String =
    "GRAFT_" + key.toUpperCase.replace('.', '_')

  /** defaults (lowest) → file (middle) → env (highest): a file value
    * beats a default, an env value beats both. Missing file is fine (the
    * reference also runs with defaults only). */
  def load(path: Option[Path] = None,
           env: Map[String, String] = sys.env): EngineConfig = {
    val fromFile: Map[String, String] = path
      .filter(Files.exists(_))
      .map { p =>
        Files.readAllLines(p).asScala
          .map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
          .map { l =>
            val i = l.indexOf('=')
            l.substring(0, i).trim -> l.substring(i + 1).trim
          }.toMap
      }.getOrElse(Map.empty)
    val keys = defaults.keySet ++ fromFile.keySet
    val resolved = keys.map { k =>
      val v = env.get(envKey(k))
        .orElse(fromFile.get(k))
        .orElse(defaults.get(k))
        .get
      k -> v
    }.toMap
    EngineConfig(resolved)
  }

  def load(path: String): EngineConfig = load(Some(Paths.get(path)))
}
