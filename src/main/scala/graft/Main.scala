package graft

import graft.config.GraftConfig
import graft.embed.{DeterministicHashEmbedder, Embedder, OllamaHttpEmbedder}
import graft.model.Mapping
import graft.pipeline.VectorPipeline
import graft.sink.{MilvusSink, ParquetVectorStore, QdrantSink}
import graft.stream.{CdcStream, Health, HealthServer, Supervisor}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Process entry point — the engine-shaped equivalent of the reference's
  * `main()` wiring (reference: cmd/cdc2vec/main.go:33-134): load config,
  * build embedder and sink, start the streaming pipeline, expose health,
  * shut down cleanly on SIGTERM. Usage:
  *   runMain graft.Main <config.yaml> [storeDir]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.load(args(0))
    val storeDir = if (args.length > 1) args(1) else "/tmp/graft-store"
    require(cfg.mappings.nonEmpty, "config carries no table mappings")

    val builder = Harness.builder().appName("graft-cdc2vec")
    sys.env.get("SPARK_MASTER").foreach(builder.master) // deployment setting
    val spark = builder.getOrCreate()

    val embedder = mkEmbedder(cfg)
    val health = new Health().register(spark)
    // O1: real /healthz listener (reference: main.go:136-151)
    val healthServer = new HealthServer(health, cfg.httpAddr).start()

    sys.addShutdownHook { // O3 graceful shutdown (main.go:153-199)
      healthServer.stop()
      // Spark's own shutdown hook may already have stopped the context
      if (!spark.sparkContext.isStopped)
        try spark.streams.active.foreach(_.stop())
        catch { case _: IllegalStateException => }
    }

    // S1 live topology: when the source is a real PostgreSQL server, dial
    // the replication connection (SCRAM when the server demands it, slot +
    // publication bootstrap) on a supervised daemon thread that taps
    // commit-aligned segments into the WAL dir, and stream THOSE segments
    // through the graft-pgoutput DataSourceV2 — the composition
    // LiveTopologySpec pins end-to-end. File mode (the default) reads
    // pre-landed envelope JSON, the reference's offset-store replay shape.
    val walDir =
      if (cfg.sourceDir.nonEmpty) cfg.sourceDir else s"$storeDir/_wal"
    if (cfg.sourceType == "postgres") startLiveWal(cfg, walDir)

    def readSource(): DataFrame = cfg.sourceType match {
      case "postgres" =>
        spark.readStream.format("graft-pgoutput")
          .option("path", walDir)
          .option("wire_format", "pgoutput")
          .option("max_files_per_trigger", cfg.batchSize)
          .load()
      case _ => CdcStream.readEnvelopes(spark, cfg.sourceDir, cfg.batchSize)
    }

    Supervisor.runWithRestarts(backoffMs = 5000L) { () =>
      readSource()
        .writeStream
        .option("checkpointLocation",
          if (cfg.checkpointDir.nonEmpty) cfg.checkpointDir
          else s"$storeDir/_checkpoint")
        .trigger(Trigger.ProcessingTime(cfg.flushIntervalMs))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          cfg.mappings.foreach { mapping => // ALL configured tables
            // one materialization of the mapping's collapse → embed chain
            // feeds the op log and the network sink
            val ops = VectorPipeline.pointOps(
              batch, mapping, embedder, cfg.normalize).persist()
            try writeBatch(cfg, storeDir, ops, batchId)
            finally ops.unpersist()
          }
          System.err.println(s"[graft] batch $batchId → ${health.statusJson}")
        }
        .start()
    }
  }

  /** Supervised replication-receiver thread: dial → handshake →
    * [[graft.sources.LiveWalRunner]] cutting segments into `walDir`;
    * reconnects with backoff on socket loss (the slot re-delivers any
    * unacked tail, and the segment store is append-only + idempotent to
    * re-reads via the source's checkpointed offsets). Daemon: process
    * shutdown never blocks on it. */
  private def startLiveWal(cfg: GraftConfig, walDir: String): Thread = {
    val password =
      if (cfg.pgPasswordEnv.isEmpty) None
      else Some(sys.env.getOrElse(cfg.pgPasswordEnv,
        // fail FAST at startup: silently degrading to no-password would
        // spin the reconnect loop on SCRAM failures forever (and hammer
        // server-side auth throttling) while the pipeline looks healthy
        sys.error(s"config names password_env ${cfg.pgPasswordEnv} " +
          "but that environment variable is not set")))
    val tap = new graft.sources.WalSegmentTap(java.nio.file.Paths.get(walDir))
    val t = new Thread(() => {
      // transient socket loss retries with exponential backoff (5s..80s,
      // reset on a successful connect); permanently-fatal errors — bad
      // credentials (SCRAM SecurityException) or broken config (missing
      // publication/slot privileges, PgServerException) — stop the thread
      // loudly instead of hammering server auth throttling forever while
      // the pipeline looks healthy with zero input
      var backoffMs = 5000L
      var run = true
      while (run) {
        try {
          val (sock, loop) = graft.sources.LiveWal.connect(
            cfg.pgHost, cfg.pgPort, cfg.pgUser, cfg.pgDatabase,
            cfg.pgSlot, cfg.pgPublication, cfg.pgStartLsn, password,
            cfg.pgCreatePublication, cfg.pgCreateSlot, cfg.pgSslMode)
          backoffMs = 5000L // the handshake succeeded: outage is over
          try new graft.sources.LiveWalRunner(loop, tap, cfg.batchSize).run()
          finally sock.close()
        } catch {
          // 28***: invalid authorization; 3D000: unknown database; 42704:
          // undefined object (missing publication); 42501: privilege —
          // none heals by reconnecting with the same credentials/config
          case e @ (_: SecurityException | _: IllegalStateException) =>
            System.err.println("[graft] wal receiver: FATAL " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}; not retrying " +
              "(fix credentials/replication config and restart)")
            run = false
          case e: graft.sources.PgReplicationHandshake.BackendError
            if e.sqlState.startsWith("28") ||
              Set("3D000", "42704", "42501").contains(e.sqlState) =>
            System.err.println("[graft] wal receiver: FATAL server error " +
              s"${e.getMessage}; not retrying " +
              "(fix credentials/replication config and restart)")
            run = false
          case e: Throwable =>
            System.err.println("[graft] wal receiver: " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}; " +
              s"reconnecting in ${backoffMs / 1000}s")
        }
        if (run)
          try Thread.sleep(backoffMs) catch {
            case _: InterruptedException =>
              System.err.println("[graft] wal receiver: interrupted; exiting")
              Thread.currentThread().interrupt()
              run = false
          }
        backoffMs = math.min(backoffMs * 2, 80000L)
      }
    }, "graft-wal-receiver")
    t.setDaemon(true)
    t.start()
    t
  }

  private def mkEmbedder(cfg: GraftConfig): Embedder = cfg.embeddingProvider match {
    // accepts the reference's provider names (embeddings.go:85-104)
    case "ollama_http" | "gorag_ollama" =>
      new OllamaHttpEmbedder(cfg.embeddingUrl, cfg.embeddingModel, cfg.vectorSize)
    case _ => new DeterministicHashEmbedder(cfg.vectorSize)
  }

  /** Route one micro-batch to the configured sink (reference sink switch:
    * main.go:66-92). The parquet store always records the op log too, so a
    * network sink can be replayed/backfilled from the lake. `ops` is
    * [[VectorPipeline.pointOps]]'s frame. */
  private def writeBatch(cfg: GraftConfig, storeDir: String,
                         ops: DataFrame, batchId: Long): Unit = {
    new ParquetVectorStore(s"$storeDir/oplog").append(ops, batchId)
    def upserts = ops.filter(col("op") === "upsert")
    def deletes = ops.filter(col("op") === "delete")
    cfg.sinkType match {
      case "qdrant" =>
        val s = new QdrantSink(cfg.sinkUrl, cfg.sinkCollection)
        s.upsert(upserts); s.delete(deletes)
      case "milvus" =>
        val s = new MilvusSink(cfg.sinkUrl, cfg.sinkCollection,
          transport = cfg.sinkTransport)
        // close releases the driver-side wire ensureCollection dialed
        try { s.upsert(upserts); s.delete(deletes) } finally s.close()
      case _ => () // parquet-only
    }
  }
}
