package perfbench

import graft.cdc.Changelog
import graft.model.{Mapping, Types}
import graft.embed.Embedders
import graft.ops.TextOps
import graft.pipeline.VectorPipeline
import graft.sink.ParquetVectorStore
import graft.sources.PgOutputWire
import graft.stream.{CdcStream, MergeStream, ParquetTableStore, SegmentRetention}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Stats.noop

/** How one streaming workload generates input, starts the program's stream,
  * reads and checks the store, and replays batches for the traced run. */
trait Wiring {
  /** Input files: pre-landed drain backlog, then the open-loop schedule. */
  def drainFiles: Int
  /** Open-loop arrival rate (files/s), fixed at about 40% of the drain
    * throughput measured on a 4-vCPU VM. */
  def openRate: Double
  /** Files of the set-up warm-up stream (one micro-batch). */
  def warmFiles: Int
  def stage(seed: Long, dir: Path, nFiles: Int): StagedLog
  def start(spark: SparkSession, src: Path, store: Path, ckpt: Path,
            landed: () => Long): StreamingQuery
  def current(spark: SparkSession, store: Path): DataFrame
  /** None when the store's current state equals the batch twin. */
  def check(spark: SparkSession, src: Path, store: Path): Option[String]
  /** Deliberately damage the store (the benchmark's own tests). */
  def corrupt(spark: SparkSession, store: Path): Unit
  /** File index → micro-batch id that carried it. */
  def batchOf(ckpt: Path, events: Seq[Progress], log: StagedLog): Map[Int, Long]
  /** A replay of the run's micro-batches through the public calls into a
    * fresh store under `work`. With an enabled tracer each call is
    * materialised inside its span; with a disabled one a batch runs as
    * the stream runs it. */
  def replay(spark: SparkSession, tr: Tracer, log: StagedLog, work: Path): Replay
  /** The layer metrics this workload's traced replay and run report. */
  def layers: Seq[String]
  /** Layer metrics read from the streaming run's own directories. */
  def runLayers(spark: SparkSession, src: Path): Map[String, Double] = Map.empty
}

/** One replay: batches fed in order, then the layer metrics (named in the
  * workload's `layers`) of a traced replay. */
trait Replay {
  def batch(id: Long, files: Seq[Int]): Unit
  def layers(): Map[String, Double]
}

object StreamBench {
  /** Generator lateness beyond this makes the open-loop phase invalid. */
  val MaxLagMs = 250.0
  /** Every workload's own layer metrics; each run reports the ones of the
    * other workload as explicit zeros. */
  val allLayers: Seq[String] = VectorReplay.layers ++ MergeChurn.layers

  /** Bytes the pgoutput decoder cannot read: a frame header announcing a
    * 1,000-byte payload that is not there. */
  private val undecodable: Array[Byte] =
    java.nio.ByteBuffer.allocate(16).putLong(0L).putInt(1000).putInt(0).array()

  /** Land a staged file: a hard link appears atomically and leaves the
    * staged copy for the traced replay. */
  def land(f: Path, dir: Path): Unit = {
    val dst = dir.resolve(f.getFileName)
    try Files.createLink(dst, f)
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        val tmp = dir.resolve("." + f.getFileName + ".tmp")
        Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def run(ctx: Ctx, w: Wiring): Result = {
    val spark = ctx.spark
    val openFiles = math.max(1, math.round(w.openRate * ctx.seconds * 0.75).toInt)
    val nFiles = w.drainFiles + openFiles
    var log: StagedLog = null

    // ---- set-up: warm the whole path once on a small log of its own, then
    // render the run's input (several times; the median counts) ----------
    val (_, warmS) = Stats.time {
      val wd = ctx.work.resolve("warm")
      val wlog = w.stage(ctx.seed + 1, wd.resolve("stage"), w.warmFiles)
      val ws = Files.createDirectories(wd.resolve("src"))
      wlog.files.foreach(land(_, ws))
      val q = w.start(spark, ws, wd.resolve("store"), wd.resolve("ckpt"),
        () => wlog.maxLsn.last)
      try q.processAllAvailable() finally q.stop()
      noop(w.current(spark, wd.resolve("store")))
    }
    val rounds = (1 to 3).map { r =>
      Stats.time { log = w.stage(ctx.seed, ctx.work.resolve(s"stage$r"), nFiles) }._2
    }
    val setupS = ctx.sessionS + warmS + Stats.median(rounds)

    // ---- timed: drain a pre-landed backlog, then an open loop ------------
    val src = Files.createDirectories(ctx.work.resolve("src"))
    val store = ctx.work.resolve("store")
    val ckpt = ctx.work.resolve("ckpt")
    // a deliberately broken first file (the benchmark's own tests): the
    // merge_churn stream must terminate with the decoder's exception
    if (ctx.inject("throwing_stream")) Files.write(log.files(0), undecodable)
    (0 until w.drainFiles).foreach(i => land(log.files(i), src))
    @volatile var landedLsn = log.maxLsn(w.drainFiles - 1)
    val failed = mutable.ArrayBuffer[String]()
    val eventsBefore = ctx.streams.all.size
    val clockNs = System.nanoTime()
    val clockMs = System.currentTimeMillis().toDouble
    def nowMs: Double = clockMs + (System.nanoTime() - clockNs) / 1e6
    val due = new Array[Double](nFiles)
    val landedAt = new Array[Double](nFiles)
    var drainS = Double.NaN
    var drainBytes = 0L
    var reads = Seq.empty[Double]
    val q = w.start(spark, src, store, ckpt, () => landedLsn)
    val t0 = System.nanoTime()
    try {
      q.processAllAvailable()
      drainS = Stats.secondsSince(t0)
      drainBytes = Stats.du(store)._1
      // the state read follows the drain, while the stream idles: the
      // store's layout is then fixed by the backlog, not by timing
      reads = (1 to 5).map(_ => Stats.time(noop(w.current(spark, store)))._2)
      val openStart = nowMs + 50
      val lander = new Thread(() => {
        for (i <- w.drainFiles until nFiles) {
          due(i) = openStart + (i - w.drainFiles) * 1000.0 / w.openRate
          val wait = due(i) - nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          land(log.files(i), src)
          landedAt(i) = nowMs
          landedLsn = log.maxLsn(i)
        }
      }, "perfbench-generator")
      lander.start()
      lander.join()
      q.processAllAvailable()
    } catch {
      case e: Exception =>
        failed += s"stream: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    } finally q.stop()

    Probes.drain(spark)
    val events = ctx.streams.all.drop(eventsBefore).filter(_.runId == q.runId.toString)
    val data = events.filter(_.rows > 0)
    val batchOf = if (failed.isEmpty) w.batchOf(ckpt, events, log) else Map.empty[Int, Long]
    val byId = events.map(e => e.batchId -> e).toMap

    // freshness: due time → end of the micro-batch that carried the file
    val openIdx = w.drainFiles until nFiles
    val fresh = openIdx.flatMap(i => batchOf.get(i).flatMap(byId.get).map(_.endMs - due(i)))
    val lagMax = openIdx.map(i => landedAt(i) - due(i)).maxOption.getOrElse(0.0)
    // backlog = files landed but not yet in a completed batch, a quarter
    // into the open loop and when the last file lands
    def backlogAt(t: Double): Int = openIdx.count(i =>
      landedAt(i) <= t && batchOf.get(i).flatMap(byId.get).forall(_.endMs > t))
    val early = backlogAt(landedAt(w.drainFiles + openFiles / 4))
    val end = backlogAt(landedAt(nFiles - 1))
    val openValid = lagMax <= MaxLagMs && end - early <= 16
    if (failed.isEmpty && !openValid)
      failed += f"open_loop_invalid: lag_max=$lagMax%.0fms backlog $early->$end"
    if (failed.isEmpty && fresh.size != openFiles)
      failed += s"open_loop_unmapped: ${openFiles - fresh.size} files without a batch"

    // ---- the correctness gate ----------------------------------------------
    if (ctx.inject("corrupt_store")) w.corrupt(spark, store)
    val (verdict, checkS) = Stats.time {
      try w.check(spark, src, store)
      catch { case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    verdict.foreach(m => failed += s"state_check: ${m.take(300)}")

    val drainChanges = log.changes.take(w.drainFiles).sum.toDouble
    val e2e = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> drainChanges / drainS,
      "p50_ms" -> Stats.median(fresh),
      "p90_ms" -> Stats.quantile(fresh, 0.9),
      "geomean_ms" -> Stats.geomean(fresh),
      "state_read_s" -> Stats.median(reads))

    var layers = Map[String, Double](
      "microbatch.batches" -> data.size.toDouble,
      "microbatch.latest_offset_ms" -> data.map(_.d("latestOffset")).sum.toDouble,
      "microbatch.get_batch_ms" -> data.map(_.d("getBatch")).sum.toDouble,
      "microbatch.query_planning_ms" -> data.map(_.d("queryPlanning")).sum.toDouble,
      "microbatch.add_batch_ms" -> data.map(_.d("addBatch")).sum.toDouble,
      "microbatch.wal_commit_ms" -> data.map(_.d("walCommit")).sum.toDouble,
      "microbatch.commit_offsets_ms" -> data.map(_.d("commitOffsets")).sum.toDouble,
      "microbatch.rows_p50" -> Stats.median(data.map(_.rows.toDouble)),
      "microbatch.fixed_ms_p50" -> Stats.median(data.map(e =>
        (e.d("triggerExecution") - e.d("addBatch")).toDouble)),
      "generator.lag_ms_max" -> lagMax,
      "generator.backlog_files_end" -> end.toDouble,
      "store.bytes_per_change" -> drainBytes / drainChanges) ++
      w.runLayers(spark, src) ++ allLayers.filterNot(w.layers.contains).map(_ -> 0.0)
    var spans: Seq[Map[String, Any]] = Nil
    if (ctx.trace && failed.isEmpty) {
      // the run's micro-batches, replayed in order twice, each batch as the
      // stream runs it and traced; the difference is what tracing costs.
      // Which of the two goes first alternates, so neither gets all the
      // warm caches.
      val batches = batchOf.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (b, fs) => b -> fs.map(_._1).sorted }
      val tr = new Tracer
      val plain = w.replay(spark, Tracer.off, log, ctx.work.resolve("untraced"))
      val traced = w.replay(spark, tr, log, ctx.work.resolve("trace"))
      var untracedS = 0.0
      batches.zipWithIndex.foreach { case ((b, files), n) =>
        def untraced(): Unit = untracedS += Stats.time(plain.batch(b, files))._2
        if (n % 2 == 0) { untraced(); traced.batch(b, files) }
        else { traced.batch(b, files); untraced() }
      }
      layers ++= traced.layers()
      val tracedS = tr.roots.filter(_.name == "batch").map(_.seconds).sum
      layers ++= Map("trace.traced_s" -> tracedS, "trace.untraced_s" -> untracedS,
        "trace.overhead_s" -> (tracedS - untracedS))
      spans = tr.toJson
      ctx.selfTimes = tr.selfTimes
    }
    val files = openIdx.map(i => Map("file" -> i, "due_ms" -> (due(i) - clockMs),
      "landed_ms" -> (landedAt(i) - clockMs), "batch" -> batchOf.get(i),
      "fresh_ms" -> batchOf.get(i).flatMap(byId.get).map(_.endMs - due(i))))
    Result(
      attempted = data.size + 1,
      failedOps = failed.toSeq,
      e2e = e2e,
      layers = layers,
      detail = Map(
        "setup_rounds_s" -> rounds, "session_s" -> ctx.sessionS, "warm_s" -> warmS,
        "drain_s" -> drainS, "drain_changes" -> drainChanges, "check_s" -> checkS,
        "drain_files" -> w.drainFiles, "open_files" -> openFiles,
        "open_rate_files_per_s" -> w.openRate, "open_loop_valid" -> openValid,
        "fresh_samples" -> fresh.size, "fresh_p99_ms" -> Stats.quantile(fresh, 0.99),
        "backlog_early" -> early, "state_reads_s" -> reads,
        "batches" -> events.map(e => Map("batch" -> e.batchId, "rows" -> e.rows,
          "start_ms" -> (e.startMs - clockMs), "duration_ms" -> e.durations))),
      perItem = files,
      spans = spans)
  }
}

/** vector_replay: JSON envelopes → `CdcStream.run` (VectorPipeline +
  * ParquetVectorStore) → `ParquetVectorStore.current`. */
object VectorReplay {
  val layers: Seq[String] = Seq("cdc.parse_s", "pipeline.latest_by_pk_s",
    "pipeline.collapse_ratio", "pipeline.vector_points_s", "pipeline.deletions_s",
    "embed.calls", "embed.ns_per_call", "sink.write_s", "sink.files", "sink.bytes",
    "sink.current_s")

  /** The texts of a documents parquet in doc_id order, the pool the
    * generator samples document contents from (read without Spark). */
  def texts(path: String): IndexedSeq[String] = {
    val reader = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .filter(_.getFieldRepetitionCount("text") > 0)
      .map(g => g.getLong("doc_id", 0) -> g.getString("text", 0))
      .toVector.sortBy(_._1).map(_._2)
    finally reader.close()
  }
}

final class VectorReplay(pool: IndexedSeq[String]) extends Wiring {
  /** Drain (and warm-up) files hold about a thousand changes each, 16
    * files per trigger: the traffic of the documents fixture's own envelope
    * log. Open-loop files hold a quarter of that at four times the rate:
    * the same changes per second and per micro-batch, but four times the
    * freshness samples. */
  val perFile = 1000
  val openPerFile = 250
  val drainFiles = 32
  val openRate = 4.0
  val warmFiles = 4
  def layers: Seq[String] = VectorReplay.layers
  private val mapping = Mapping.documents

  def stage(seed: Long, dir: Path, nFiles: Int): StagedLog =
    EnvelopeGen.render(seed, dir,
      (0 until nFiles).map(i => if (i < drainFiles) perFile else openPerFile), pool, lag = perFile)

  def start(spark: SparkSession, src: Path, store: Path, ckpt: Path,
            landed: () => Long): StreamingQuery =
    CdcStream.run(spark, src.toString, store.toString, ckpt.toString, mapping)

  def current(spark: SparkSession, store: Path): DataFrame =
    new ParquetVectorStore(store.toString).current(spark)

  /** A 64-bit hash of each whole point (id, vector, sorted metadata),
    * signed +1 for the batch twin's rows and -1 for the store's. */
  private def signed(df: DataFrame, sign: Long): DataFrame =
    df.select(xxhash64(col("id"), col("vector"), array_sort(map_entries(col("metadata"))))
      .as("h"), lit(sign).as("s"))

  /** The two sides must hold the same multiset of points: per hash the
    * signs cancel. One pass over each side. */
  def check(spark: SparkSession, src: Path, store: Path): Option[String] = {
    val log = spark.read.schema(Types.rowChangeSchema).json(src.toString)
    val r = signed(VectorPipeline.vectorPoints(log, mapping), 1L)
      .unionByName(signed(current(spark, store), -1L))
      .groupBy("h").agg(sum("s").as("d"), sum(greatest(col("s"), lit(0L))).as("n"))
      .agg(sum(greatest(col("d"), lit(0L))), sum(greatest(-col("d"), lit(0L))), sum("n"))
      .head()
    val (missing, extra, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (n == 0) Some("batch twin is empty")
    else if (missing + extra > 0) Some(s"store differs from batch twin: missing=$missing extra=$extra of $n")
    else None
  }

  def corrupt(spark: SparkSession, store: Path): Unit = {
    import spark.implicits._
    val s = new ParquetVectorStore(store.toString)
    val bad = Seq(("public.documents:-1", Array(1.0f), Map("table" -> "public.documents")))
      .toDF("id", "vector", "metadata")
    s.write(bad, Seq.empty[String].toDF("id"), Long.MaxValue / 2)
  }

  /** The file source logs each batch's files under `sources/0`. */
  def batchOf(ckpt: Path, events: Seq[Progress], log: StagedLog): Map[Int, Long] = {
    val index = log.files.map(_.getFileName.toString).zipWithIndex.toMap
    val pathRe = "\"path\":\"([^\"]+)\"".r
    val batchRe = "\"batchId\":(\\d+)".r
    val dir = ckpt.resolve("sources").resolve("0")
    Stats.ls(dir)
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap { line =>
        for (p <- pathRe.findFirstMatchIn(line); b <- batchRe.findFirstMatchIn(line);
             i <- index.get(p.group(1).substring(p.group(1).lastIndexOf('/') + 1)))
        yield i -> b.group(1).toLong
      }
    }.toMap
  }

  def replay(spark: SparkSession, tr: Tracer, log: StagedLog, work: Path): Replay =
    new Replay {
      val store = new ParquetVectorStore(work.resolve("store").toString)
      var rowsIn = 0L; var rowsOut = 0L; var points = 0L
      val texts = mutable.ArrayBuffer[String]()

      def batch(b: Long, files: Seq[Int]): Unit = {
        val id = b.toString
        def raw = spark.read.text(files.map(i => log.files(i).toString): _*)
        if (!tr.enabled) {
          // the stream's per-batch work: the batch persisted once, no
          // action but the store's write
          val parsed = Changelog.parse(raw).persist()
          try store.write(VectorPipeline.vectorPoints(parsed, mapping),
            VectorPipeline.deletions(parsed, mapping), b)
          finally parsed.unpersist()
        } else {
          val (parsed, vp, del) = tr.span("batch", id) {
            val parsed = tr.span("cdc.parse", id) {
              val p = Changelog.parse(raw).persist(); rowsIn += p.count(); p
            }
            rowsOut += tr.span("pipeline.latest_by_pk", id) {
              VectorPipeline.latestByPk(VectorPipeline.mappedOnly(parsed, Seq(mapping.table))).count()
            }
            val vp = tr.span("pipeline.vector_points", id) {
              val v = VectorPipeline.vectorPoints(parsed, mapping).persist(); points += v.count(); v
            }
            val del = tr.span("pipeline.deletions", id) {
              val d = VectorPipeline.deletions(parsed, mapping).persist(); d.count(); d
            }
            tr.span("sink.write", id)(store.write(vp, del, b))
            (parsed, vp, del)
          }
          // the texts this batch embedded, for the embedder's own timing below
          texts ++= parsed.filter(col("table") === "documents" && col("after").isNotNull)
            .select(TextOps.textConcat(mapping.textColumns.map(c => element_at(col("after"), c))))
            .collect().map(_.getString(0)).filter(s => s != null && s.nonEmpty)
          Seq(parsed, vp, del).foreach(_.unpersist())
        }
      }

      def layers(): Map[String, Double] = {
        tr.span("sink.current", "final")(noop(store.current(spark)))
        // the embedder alone, one thread, over the texts the replay embedded
        val e = Embedders.deterministic
        texts.take(2000).foreach(e.embed) // JIT warm-up
        val t0 = System.nanoTime()
        texts.foreach(e.embed)
        val embedNs = (System.nanoTime() - t0).toDouble
        val (bytes, files) = Stats.du(work.resolve("store"))
        Map(
          "cdc.parse_s" -> tr.total("cdc.parse"),
          "pipeline.latest_by_pk_s" -> tr.total("pipeline.latest_by_pk"),
          "pipeline.collapse_ratio" -> rowsOut.toDouble / math.max(rowsIn, 1L),
          "pipeline.vector_points_s" -> tr.total("pipeline.vector_points"),
          "pipeline.deletions_s" -> tr.total("pipeline.deletions"),
          "embed.calls" -> points.toDouble,
          "embed.ns_per_call" -> embedNs / math.max(texts.size, 1),
          "sink.write_s" -> tr.total("sink.write"),
          "sink.files" -> files.toDouble,
          "sink.bytes" -> bytes.toDouble,
          "sink.current_s" -> tr.total("sink.current"))
      }
    }
}

/** merge_churn: pgoutput segments → `MergeStream.run` (pgoutput source,
  * two-phase GC on the highest fully-landed LSN, segment retention) →
  * `ParquetTableStore.current`. */
object MergeChurn extends Wiring {
  val txPerSegment = 5
  val changesPerTx = 5
  val drainFiles = 64
  val openRate = 3.2
  val warmFiles = 16
  val gcEveryBatches = 4
  val layers: Seq[String] = Seq("sources.decode_s", "sources.segments", "sources.bytes",
    "store.merge_s", "store.compactions", "store.bytes_written", "store.live_dirs",
    "store.gc_s", "store.current_s", "store.retired_segments")
  private val attrs = Seq("title", "content", "created_at", "author")
  @volatile private var model: Map[String, WalGen.Row] = Map.empty

  def stage(seed: Long, dir: Path, nFiles: Int): StagedLog = {
    val r = WalGen.render(seed, dir, nFiles, txPerSegment, changesPerTx)
    model = r.live
    r.log
  }

  def start(spark: SparkSession, src: Path, store: Path, ckpt: Path,
            landed: () => Long): StreamingQuery =
    MergeStream.run(spark, src.toString, store.toString, ckpt.toString,
      gcHorizon = Some(landed), gcEveryBatches = gcEveryBatches,
      wireFormat = "pgoutput", retireSegments = true)

  def current(spark: SparkSession, store: Path): DataFrame =
    new ParquetTableStore(store.toString).current(spark)

  /** Last writer wins by commit LSN, tombstones dropped — computed by the
    * generator while it rendered the log. */
  def check(spark: SparkSession, src: Path, store: Path): Option[String] = {
    val got = current(spark, store).select(("pk" +: attrs).map(col): _*).collect()
      .map(r => r.getString(0) -> attrs.indices.map(i => Option(r.getString(i + 1)))).toMap
    val want = model.map { case (pk, row) => pk -> attrs.map(row.get).toIndexedSeq }
    if (want.isEmpty) Some("model is empty")
    else if (got == want) None
    else {
      val missing = want.keySet.count(k => !got.get(k).contains(want(k)))
      val extra = got.keySet.diff(want.keySet).size
      Some(s"store differs from last-writer-wins model: wrong_or_missing=$missing extra=$extra of ${want.size}")
    }
  }

  def corrupt(spark: SparkSession, store: Path): Unit = {
    val df = spark.createDataFrame(java.util.List.of(Row("c", "public", "documents", "-1",
      null, Map("id" -> "-1", "title" -> "bad"), Long.MaxValue.toString)), Types.rowChangeSchema)
    new ParquetTableStore(store.toString).merge(df)
  }

  /** The replay source's offsets count segments in name order. */
  def batchOf(ckpt: Path, events: Seq[Progress], log: StagedLog): Map[Int, Long] =
    events.filter(_.rows > 0).flatMap { e =>
      val from = Option(e.startOffset).map(_.trim.toInt).getOrElse(0)
      (from until e.endOffset.trim.toInt).map(_ -> e.batchId)
    }.toMap

  def replay(spark: SparkSession, tr: Tracer, log: StagedLog, work: Path): Replay =
    new Replay {
      val dir = work.resolve("store")
      val store = new ParquetTableStore(dir.toString)
      val data = dir.resolve("data")
      def dirs: Set[String] =
        if (Files.exists(data)) Stats.ls(data).map(_.getFileName.toString).toSet else Set.empty
      var n = 0; var segs = 0L; var segBytes = 0L; var compactions = 0; var written = 0L

      def batch(b: Long, files: Seq[Int]): Unit = {
        val id = b.toString
        val before = if (tr.enabled) dirs else Set.empty[String]
        tr.span("batch", id) {
          val df = tr.span("sources.decode", id) {
            val rows = files.flatMap { i =>
              val bytes = Files.readAllBytes(log.files(i))
              segs += 1; segBytes += bytes.length
              PgOutputWire.decodeSegment(bytes)
            }.map(c => Row(c.op, c.schema, c.table, c.primaryKey,
              c.before.orNull, c.after.orNull, c.lsn.toString))
            spark.createDataFrame(rows.asJava, Types.rowChangeSchema)
          }
          tr.span("store.merge", id)(store.merge(df))
          n += 1
          if (n % gcEveryBatches == 0)
            tr.span("store.gc", id)(store.gcTwoPhase(spark, log.maxLsn(files.max), b))
        }
        if (tr.enabled) {
          val added = dirs -- before
          compactions += added.count(_.startsWith("base-"))
          written += added.toSeq.map(d => Stats.du(data.resolve(d))._1).sum
        }
      }

      def layers(): Map[String, Double] = {
        tr.span("store.current", "final")(noop(store.current(spark)))
        Map(
          "sources.decode_s" -> tr.total("sources.decode"),
          "sources.segments" -> segs.toDouble,
          "sources.bytes" -> segBytes.toDouble,
          "store.merge_s" -> tr.total("store.merge"),
          "store.compactions" -> compactions.toDouble,
          "store.bytes_written" -> written.toDouble,
          "store.live_dirs" -> dirs.size.toDouble,
          "store.gc_s" -> tr.total("store.gc"),
          "store.current_s" -> tr.total("store.current"))
      }
    }

  /** Segments the streaming run's retention deleted (from its marker). */
  override def runLayers(spark: SparkSession, src: Path): Map[String, Double] = {
    val p = new org.apache.hadoop.fs.Path(src.toString)
    Map("store.retired_segments" -> SegmentRetention.readMarker(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), src.toString)._1.toDouble)
  }
}
