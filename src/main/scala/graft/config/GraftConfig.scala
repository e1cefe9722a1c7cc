package graft.config

import graft.model.Mapping

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import scala.jdk.CollectionConverters._

/** Engine configuration, same information content as the reference's YAML
  * (reference: internal/config/config.go:61-117): source, embedding
  * provider, sink selection, pipeline batching, per-table mappings.
  * Defaults mirror the reference's (batch 64, flush 500 ms, dim 768 —
  * config.go:102-114). */
final case class GraftConfig(
    sourceDir: String = "",
    checkpointDir: String = "",
    sourceType: String = "files",                // files | postgres
    pgHost: String = "localhost",
    pgPort: Int = 5432,
    pgUser: String = "postgres",
    pgDatabase: String = "postgres",
    pgPasswordEnv: String = "",                  // env var holding the password
    pgSslMode: String = "disable",               // disable | require | verify-full
    pgSlot: String = "graft",
    pgPublication: String = "graft_pub",
    pgStartLsn: Long = 0L,
    pgCreatePublication: Boolean = true,         // reference: config.go:21
    pgCreateSlot: Boolean = true,                // reference: config.go:22
    embeddingProvider: String = "deterministic", // or "ollama_http"
    embeddingUrl: String = "",
    embeddingModel: String = "",
    vectorSize: Int = 768,
    normalize: Boolean = true,
    sinkType: String = "parquet",                // parquet | qdrant | milvus | kafka
    sinkUrl: String = "",
    sinkCollection: String = "vectors",
    sinkTransport: String = "rest",              // milvus only: rest | grpc
    batchSize: Int = 64,
    flushIntervalMs: Long = 500L,
    httpAddr: String = ":8080",
    mappings: Seq[Mapping] = Nil)

object GraftConfig {

  /** YAML through Jackson's YAML module (SnakeYAML underneath), the parser
    * Spark itself ships. */
  private val yaml = new ObjectMapper(new YAMLFactory())

  /** Load a YAML config file. */
  def load(path: String): GraftConfig =
    fromYaml(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  /** Parse a YAML config. Absent keys and sections take the defaults;
    * malformed YAML, a section that is not a mapping and a list or mapping
    * where a scalar belongs raise `IllegalArgumentException`. */
  def fromYaml(text: String): GraftConfig = {
    val root = mapping("config", try yaml.readTree(text) catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"malformed YAML config: ${e.getOriginalMessage}", e)
    })
    def section(m: JsonNode, name: String): JsonNode = mapping(name, m.get(name))
    def value(m: JsonNode, k: String): Option[String] = Option(m.get(k)).filterNot(_.isNull).map {
      case v if v.isValueNode => v.asText
      case _ => throw new IllegalArgumentException(s"config key '$k' must be a scalar")
    }
    def str(m: JsonNode, k: String, d: String = ""): String = value(m, k).getOrElse(d)
    def num(m: JsonNode, k: String, d: Long): Long = value(m, k).map(_.trim.toLong).getOrElse(d)
    def bool(m: JsonNode, k: String, d: Boolean): Boolean =
      value(m, k).map(_.trim.toBoolean).getOrElse(d)
    // a list, or one scalar standing for a one-element list
    def strings(m: JsonNode, k: String): Seq[String] = Option(m.get(k)).filterNot(_.isNull) match {
      case Some(a) if a.isArray => a.elements.asScala.map(_.asText).toSeq
      case _ => value(m, k).toSeq
    }

    val source = section(root, "source")
    val emb = section(root, "embedding")
    val sink = section(root, "sink")
    val pipe = section(root, "pipeline")
    val mappings = Option(root.get("mappings")).filterNot(_.isNull) match {
      case None => Nil
      case Some(items) if items.isArray => items.elements.asScala.map { item =>
        val m = mapping("mappings item", item)
        Mapping(
          table = str(m, "table"),
          idColumn = str(m, "id_column", "id"),
          textColumns = strings(m, "text_columns"),
          metadataColumns = strings(m, "metadata_columns"))
      }.toSeq
      case Some(_) => throw new IllegalArgumentException("config key 'mappings' must be a list")
    }

    val pg = section(source, "postgres")
    GraftConfig(
      sourceDir = str(source, "dir"),
      checkpointDir = str(source, "checkpoint_dir"),
      sourceType = str(source, "type", "files"),
      pgHost = str(pg, "host", "localhost"),
      pgPort = num(pg, "port", 5432L).toInt,
      pgUser = str(pg, "user", "postgres"),
      pgDatabase = str(pg, "database", "postgres"),
      // password via env indirection — credentials never live in YAML
      // (the reference embeds them in its DSN string, config.go:17)
      pgPasswordEnv = str(pg, "password_env"),
      pgSslMode = str(pg, "ssl_mode", "disable"),
      pgSlot = str(pg, "slot", "graft"),
      pgPublication = str(pg, "publication", "graft_pub"),
      pgStartLsn = {
        val s = str(pg, "start_lsn")
        if (s.isEmpty) 0L else graft.sources.PgReplicationHandshake.parseLsn(s)
      },
      pgCreatePublication = bool(pg, "create_publication", d = true),
      pgCreateSlot = bool(pg, "create_slot", d = true),
      embeddingProvider = str(emb, "provider", "deterministic"),
      embeddingUrl = str(emb, "url"),
      embeddingModel = str(emb, "model"),
      vectorSize = num(emb, "vector_size", 768L).toInt,
      normalize = bool(emb, "normalize", d = true),
      sinkType = str(sink, "type", "parquet"),
      sinkUrl = str(sink, "url"),
      sinkCollection = str(sink, "collection", "vectors"),
      sinkTransport = str(sink, "transport", "rest"),
      batchSize = num(pipe, "batch_size", 64L).toInt,
      flushIntervalMs = num(pipe, "flush_interval_ms", 500L),
      httpAddr = str(section(root, "http"), "addr", ":8080"),
      mappings = mappings)
  }

  /** A YAML mapping; an absent or empty one is an empty mapping. */
  private def mapping(name: String, node: JsonNode): JsonNode =
    if (node == null || node.isMissingNode || node.isNull) yaml.createObjectNode()
    else if (node.isObject) node
    else throw new IllegalArgumentException(s"config $name must be a mapping, got '${node.asText}'")
}
