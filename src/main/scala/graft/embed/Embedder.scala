package graft.embed

import graft.ops.expr.Fnv1a64

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Per-row embedding enrichment (reference: internal/embeddings/embeddings.go:16-19).
  *
  * The reference calls an HTTP model server once per row; in Spark the same
  * step is a map over partitions, so one client handles a whole partition and
  * rows flow through it without per-row connection setup (the reference's
  * serial per-row embed loop, internal/pipeline/pipeline.go:154-165, is its
  * main bottleneck — partition parallelism replaces it).
  *
  * Correctness tests never touch the network: they use the deterministic
  * hash featurizer, mirroring how the reference's own tests mock the provider
  * (reference: internal/embeddings/embeddings_test.go:12-44,66-76).
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]
}

/** Pure-function featurizer: dim buckets, each a [-1,1) value derived from an
  * FNV-1a hash of the text salted by the bucket index. Deterministic across
  * JVMs/executors (no object identity, no RNG). */
final class DeterministicHashEmbedder(val dim: Int = 16) extends Embedder {
  def embed(text: String): Array[Float] = {
    val out = new Array[Float](dim)
    if (text == null || text.isEmpty) return out
    var i = 0
    while (i < dim) {
      // LEADING dimension salt: FNV-1a avalanches poorly when inputs
      // differ only in trailing bytes, but a differing PREFIX cascades
      // through every subsequent byte of the fold — so no post-mixer is
      // needed, and the whole per-component chain stays one linear byte
      // fold an external SQL engine can replay in 128-bit integer
      // arithmetic (this is what makes q_embed_det oracle-checkable).
      val h = Fnv1a64.hashCodePoints("#" + i + "#" + text)
      // map to [-1, 1) with 2^20 distinct levels; every value is the exact
      // rational bucket/2^19 - 1 (representable in float), so downstream
      // integer recovery of the bucket is lossless.
      out(i) = ((h >>> 44).toInt / 524288.0f) - 1.0f
      i += 1
    }
    out
  }
}

/** HTTP provider speaking the Ollama embeddings API
  * (reference: internal/embeddings/embeddings.go:37-81): POST
  * `{"model": m, "prompt": text}` to `<url>/api/embeddings`, expect
  * `{"embedding": [...]}`. Kept off the test path (zero-egress environment);
  * exercised only through its pure JSON codec.
  */
final class OllamaHttpEmbedder(baseUrl: String, model: String, val dim: Int = 768)
    extends Embedder {

  @transient private lazy val client =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  def embed(text: String): Array[Float] = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$baseUrl/api/embeddings"))
      .timeout(java.time.Duration.ofSeconds(60))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        OllamaHttpEmbedder.requestJson(model, text)))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"embedding request failed: HTTP ${resp.statusCode()}")
    val vec = OllamaHttpEmbedder.parseEmbedding(resp.body())
    if (vec.isEmpty) // empty-vector guard (reference: internal/pipeline/pipeline.go:223-228)
      throw new java.io.IOException("embedding response carried an empty vector")
    vec
  }
}

object OllamaHttpEmbedder {
  /** `{"model": ..., "prompt": ...}` with JSON string escaping. */
  def requestJson(model: String, prompt: String): String = {
    import graft.util.Json.escape
    s"""{"model":"${escape(model)}","prompt":"${escape(prompt)}"}"""
  }

  /** Extract the `embedding` number array from an Ollama response body. */
  def parseEmbedding(body: String): Array[Float] = {
    val key = "\"embedding\""
    val k = body.indexOf(key)
    if (k < 0) return Array.empty
    val open = body.indexOf('[', k + key.length)
    val close = body.indexOf(']', open)
    if (open < 0 || close < 0) return Array.empty
    val inner = body.substring(open + 1, close).trim
    if (inner.isEmpty) Array.empty
    else inner.split(",").map(_.trim.toFloat)
  }
}

object Embedders {
  /** Default deterministic featurizer used by all correctness tests. */
  val deterministic: Embedder = new DeterministicHashEmbedder(16)

  /** Column function embedding a text column with the given embedder.
    * Non-deterministic on purpose: Catalyst then never copies the call into
    * a pushed-down filter or a collapsed projection, so the embedder (for
    * [[OllamaHttpEmbedder]], a network call) runs exactly once per row that
    * reaches it. */
  def embedColumn(e: Embedder): Column => Column = {
    val f = udf((s: String) => e.embed(s)).asNondeterministic()
    c => f(c)
  }
}
