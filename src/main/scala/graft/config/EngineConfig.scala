package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.operators.Router.ProducerMap

/** Engine configuration mirroring the reference's TOML surface
  * (/root/reference/route81.go:120-147): namespaces, producer maps,
  * per-namespace pipelines, consumers, resume metadata. JSON here
  * (TOML's data model embeds 1:1; no TOML parser ships with Spark).
  */
final case class PipelineConf(namespace: String, direct: Boolean, stages: String)

final case class ConsumerConf(
    namespace: String,
    topics: Seq[String],
    format: String = "json-ext",
    bulkSize: Int = 100,
    bulkFlushDuration: String = "5 seconds", // route81.go:1141-1197 ticker
    workers: Int = 4,
    documentRootPath: String = "",
    deleteIdPath: String = "")

final case class EngineConfig(
    changeStreamNamespaces: Seq[String] = Seq(""),
    directReadNamespaces: Seq[String] = Nil,
    topicPrefix: String = "",
    metadataDb: String = "route81",
    resumeName: String = "default",
    producerMaps: Seq[ProducerMap] = Nil,
    pipelines: Seq[PipelineConf] = Nil,
    consumers: Seq[ConsumerConf] = Nil) {

  /** Pipeline for a namespace+mode, mirroring makePipe
    * (route81.go:181-197): first matching entry wins.
    */
  def pipelineFor(ns: String, stream: Boolean): Option[String] =
    pipelines.find(p => p.namespace == ns && p.direct == !stream)
      .map(_.stages)

  /** Validation per route81.go:252-266. */
  def validate(): Unit = {
    producerMaps.foreach(pm => require(pm.kafkaTopic.nonEmpty,
      "kafka-topic cannot be empty in a producer-map"))
    consumers.foreach { c =>
      require(c.namespace.split("\\.", 2).length == 2,
        s"invalid consumer namespace: ${c.namespace}")
      require(Seq("json-ext", "json", "avro").contains(c.format),
        s"unsupported consumer format: ${c.format}")
    }
  }
}

object EngineConfig {
  private val mapper = new ObjectMapper()

  private def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText()).toSeq

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  /** Parse the TOML-equivalent JSON config (keys as in the reference
    * README: change-stream-namespaces, direct-read-namespaces,
    * topic-name-prefix, producer-map, pipeline, consumer).
    */
  def fromJson(json: String): EngineConfig =
    fromTree(mapper.readTree(json))

  /** Parse a route81 TOML config file AS-IS ([[Toml]] covers the
    * reference's config subset) — same keys, same tree walk, so the
    * JSON and TOML forms can never drift.
    */
  def fromToml(toml: String): EngineConfig =
    fromTree(Toml.parse(toml))

  private def fromTree(root: JsonNode): EngineConfig = {
    val cfg = EngineConfig(
      changeStreamNamespaces =
        opt(root, "change-stream-namespaces").map(strings).getOrElse(Seq("")),
      directReadNamespaces =
        opt(root, "direct-read-namespaces").map(strings).getOrElse(Nil),
      topicPrefix = opt(root, "topic-name-prefix").map(_.asText()).getOrElse(""),
      metadataDb = opt(root, "metadata-db").map(_.asText()).getOrElse("route81"),
      resumeName = opt(root, "resume-name").map(_.asText()).getOrElse("default"),
      producerMaps = opt(root, "producer-map").toSeq.flatMap(_.elements().asScala).map(p =>
        ProducerMap(
          opt(p, "mongo-namespace").map(_.asText()).getOrElse(""),
          opt(p, "kafka-topic").map(_.asText()).getOrElse(""))),
      pipelines = opt(root, "pipeline").toSeq.flatMap(_.elements().asScala).map(p =>
        PipelineConf(
          opt(p, "namespace").map(_.asText()).getOrElse(""),
          opt(p, "direct").exists(_.asBoolean()),
          opt(p, "stages").map(_.asText()).getOrElse("[]"))),
      consumers = opt(root, "consumer").toSeq.flatMap(_.elements().asScala).map(c =>
        ConsumerConf(
          opt(c, "namespace").map(_.asText()).getOrElse(""),
          strings(c.get("topics")),
          opt(c, "message-format").map(_.asText()).getOrElse("json-ext"),
          opt(c, "bulk-size").map(_.asInt()).getOrElse(100),
          opt(c, "bulk-flush-duration").map(_.asText()).getOrElse("5 seconds"),
          opt(c, "workers").map(_.asInt()).getOrElse(4),
          opt(c, "document-root-path").map(_.asText()).getOrElse(""),
          opt(c, "delete-id-path").map(_.asText()).getOrElse(""))))
    cfg.validate()
    cfg
  }
}
