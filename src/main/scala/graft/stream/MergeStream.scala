package graft.stream

import graft.ops.VectorOps
import graft.util.LocalFs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType,
  StringType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8

/** LSN-monotonic MERGE table store: the streaming realization of the
  * `q_merge_upsert` batch query. Holds the current relational state of the
  * mapped table (one row per pk, plus tombstones); [[merge]] applies one
  * micro-batch of change envelopes with last-writer-wins-by-LSN semantics.
  *
  * Why LSN-monotonic rather than batch-ordered: under at-least-once
  * delivery a restarted stream may re-deliver any suffix of the log, and a
  * file source may interleave chunks out of order. A row only ever moves
  * to a HIGHER LSN, so re-applying any already-applied change is a no-op
  * and applying chunks in either order converges to the same state —
  * exactly-once effect without coordination (the same contract the
  * reference relies on for idempotent vector upserts,
  * internal/pipeline/pipeline.go:173-179).
  *
  * == Storage layout: bucketed deltas under an atomic manifest ==
  *
  * The store writes O(micro-batch) per trigger:
  *
  *   path/manifest-SEQ.txt     commit log head (atomic rename install)
  *   path/data/delta-SEQ/      one per merge: the batch collapsed per pk,
  *                             partitionBy(bucket = pmod(fnv1a64(pk), B))
  *   path/data/base-SEQ/       the same, from a merge that also compacted
  *                             buckets (or [[compactAll]]); a bucket's
  *                             state = its base file (if any) + its live
  *                             deltas, collapsed last-writer-wins at read
  *                             time (merge-on-read)
  *
  * The bucket hash is the repo's native codegen'd FNV-1a ([[VectorOps
  * .fnv1a64]]) rather than Spark's Murmur3 so the registered audit
  * `q_merge_amplification` (queries/GroupX.scala) replays the store's REAL
  * bucket ids in DuckDB — an operator debugging a hot bucket sees the
  * actual layout, not a statistical proxy.
  *
  * A merge (1) runs one narrow aggregate over the raw batch — offered max
  * LSN, accepted max LSN, touched buckets — and from the manifest picks
  * the buckets due for compaction: touched buckets whose live-delta count
  * would exceed `maxDeltasPerBucket` (bounding read fan-in AND the
  * small-file count), plus one stale bucket after a [[split]]; (2) writes
  * ONE new dir: the accepted rows unioned with those buckets' live rows,
  * shuffled once by bucket and collapsed last-writer-wins per (bucket,
  * pk), one file per bucket written; (3) commits by atomically renaming
  * the next manifest into place, which records the dir as the new base of
  * the compacted buckets and as a new delta of every other touched
  * bucket; then (4) vacuums dirs no retained manifest references. Steps
  * (1) and (2) only read committed dirs and write a dir no manifest names,
  * so a crash before the rename leaves the old manifest, whole (the orphan
  * dir is overwritten by the replayed batch, which writes under the same
  * SEQ, or vacuumed by the next commit); a crash after it leaves the new
  * one (vacuum backlog, cleared next commit) — never a torn state;
  * readers resolve exactly one manifest. Untouched buckets' files are
  * never rewritten (MergeStreamSpec pins this byte-for-byte).
  *
  * == Tombstones and GC (O(manifest), not O(state)) ==
  *
  * Tombstones are retained (with the delete's LSN) so a late re-delivered
  * upsert that PRECEDED the delete cannot resurrect the row. [[gc]] takes
  * the source's replay horizon — the slot's confirmed_flush, below which
  * the server never re-delivers — clamps it to the store's APPLIED
  * watermark (the max LSN any merge has committed; a receive loop's
  * flushed-LSN runs ahead of what the streaming query has merged, and an
  * unclamped horizon would make the merge-time refusal filter drop
  * first-time deliveries of already-acked-but-not-yet-merged segments),
  * and records the clamped value in the next manifest — touching ZERO data
  * files. Because `applied` is a MAX (not contiguous) watermark, the
  * operated loop uses [[gcTwoPhase]] instead: the horizon is promoted one
  * gc cycle AFTER capture, by which point every segment the provider had
  * covered has been offered to [[merge]] — closing the out-of-order
  * first-delivery window the clamp alone only narrows. Pre-horizon tombstones are dropped lazily by each bucket's next
  * threshold compaction (or an explicit [[compactAll]] maintenance pass);
  * resurrection stays impossible meanwhile because [[merge]] FILTERS OUT
  * any arriving change with lsn ≤ the recorded horizon, so even a
  * contract-violating re-delivery of a pre-horizon upsert cannot revive a
  * GC'd delete (spec-pinned). A scheduled full-table compaction per
  * horizon advance would be O(state) write amplification on a timer — the
  * exact failure mode the bucketed-delta layout exists to avoid.
  *
  * == Bucket scaling: manifest-versioned doubling ==
  *
  * `numBuckets` seeds a NEW store; once a manifest exists the store's
  * bucket count is authoritative from the manifest and may be any
  * power-of-two multiple of the configured seed (anything else is refused
  * as drift). [[split]] doubles the count as a MANIFEST-ONLY commit: each
  * bucket k's dirs become live for buckets k and k+B (consistent-hash
  * doubling — pmod(h, B) = pmod(pmod(h, 2B), B), so a dir written at
  * modulus B physically holds exactly the pks of new buckets k and k+B).
  * Every dir records the modulus it was written under; readers prune old
  * dirs by physical partition (new-bucket id mod dir-modulus) and, for
  * dirs older than the current modulus, re-derive the current bucket from
  * the pk so scoping stays exact. Old-modulus dirs disappear as their
  * buckets compact (compaction always rewrites under the current modulus),
  * so the re-derivation cost is transient. At 100 TB this is what keeps a
  * bucket's compaction unit bounded: when a bucket's base outgrows
  * `splitThresholdBytes`, the next merge doubles the bucket count without
  * rewriting a byte.
  *
  * Scale shape: per trigger two Spark jobs for the stats aggregate and two
  * for the write — one shuffle of the batch plus the compacted buckets'
  * live rows, one O(batch + compacted buckets) write. Compaction touches
  * single buckets, amortized O(bucket/maxDeltas) per merge, and shares the
  * batch's shuffle and write instead of running its own. Reads prune to
  * live dirs via the manifest and to bucket partitions via partition
  * pruning, then collapse with one window keyed by pk — the merge-on-read
  * half of the standard LSM trade.
  */
final class ParquetTableStore(path: String,
                              table: String = "public.documents",
                              attrCols: Seq[String] =
                                Seq("title", "content", "created_at", "author"),
                              numBuckets: Int = 32,
                              maxDeltasPerBucket: Int = 4,
                              keepManifests: Int = 4,
                              splitThresholdBytes: Long = Long.MaxValue)
  extends Serializable {

  require(numBuckets > 0 && maxDeltasPerBucket > 0 && keepManifests > 0 &&
    splitThresholdBytes > 0)

  private val attrs = attrCols
  private def dataDir = s"$path/data"

  /** On-disk row schema (explicit everywhere: schema inference dies on
    * empty compaction outputs, and partition-column types must not drift). */
  private def rowSchema: StructType = StructType(
    Seq(StructField("pk", StringType), StructField("lsn", LongType),
      StructField("deleted", BooleanType)) ++
      attrs.map(StructField(_, StringType)) :+
      StructField("bucket", IntegerType))

  /** The store's bucket function — pmod of the native FNV-1a 64 over the
    * pk, exactly what `q_merge_amplification` replays in the oracle. */
  private def bucketCol(b: Int, pk: Column = col("pk")): Column =
    pmod(VectorOps.fnv1a64(pk), lit(b.toLong)).cast("int")

  private def fs(spark: SparkSession) =
    LocalFs.fileSystem(path, spark.sparkContext.hadoopConfiguration)

  // ---- manifest: the store's atomically-installed commit head ----------

  /** `base`/`deltas` name dirs under `data/`, keyed by CURRENT bucket id;
    * a bucket's live state is base (oldest) then deltas in commit order.
    * `buckets` is the current count (doubles under [[split]]); `mods`
    * records the modulus each live dir was written under. `gc` is the
    * replay horizon: changes at or below it are refused, tombstones at or
    * below it drop at compaction. `applied` is the max LSN any committed
    * merge has carried — the clamp for [[gc]]. `pending` is the two-phase
    * GC candidate recorded by [[gcTwoPhase]]; `pendingEpoch` is the
    * micro-batch epoch it was captured in — promotion requires a strictly
    * LATER epoch, so a crash-replayed batch cannot promote its own
    * capture. */
  private case class Manifest(seq: Int, buckets: Int, gc: Long, applied: Long,
                              pending: Long, pendingEpoch: Long,
                              mods: Map[String, Int],
                              base: Map[Int, String],
                              deltas: Map[Int, List[String]]) {
    def liveDirs: Set[String] = base.values.toSet ++ deltas.values.flatten
  }

  private def emptyManifest =
    Manifest(0, numBuckets, -1L, -1L, -1L, -1L, Map.empty, Map.empty, Map.empty)

  private def manifestPath(seq: Int) =
    new org.apache.hadoop.fs.Path(f"$path/manifest-$seq%08d.txt")

  private val ManifestName = raw"manifest-(\d{8})\.txt".r

  private def listManifestSeqs(f: org.apache.hadoop.fs.FileSystem): Seq[Int] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(s) => Some(s.toInt)
      case _ => None
    }).sorted
  }

  private def render(m: Manifest): String = {
    val sb = new StringBuilder
    sb.append(s"buckets ${m.buckets}\n")
    sb.append("hashfn fnv1a64\n")
    sb.append(s"gc ${m.gc}\n")
    sb.append(s"applied ${m.applied}\n")
    sb.append(s"pending ${m.pending} ${m.pendingEpoch}\n")
    val live = m.liveDirs
    m.mods.filter(kv => live(kv._1)).toSeq.sorted.foreach { case (d, b) =>
      sb.append(s"dir $d $b\n")
    }
    val ks = (m.base.keySet ++ m.deltas.keySet).toSeq.sorted
    ks.foreach { k =>
      val b = m.base.getOrElse(k, "-")
      val d = m.deltas.getOrElse(k, Nil) match {
        case Nil => "-"; case ds => ds.mkString(",")
      }
      sb.append(s"bucket $k $b $d\n")
    }
    sb.toString
  }

  private def parse(seq: Int, text: String): Manifest = {
    var buckets = numBuckets
    var gc = -1L
    var applied = -1L
    var pending = -1L
    var pendingEpoch = -1L
    var sawHashFn = false
    var mods = Map.empty[String, Int]
    var base = Map.empty[Int, String]
    var deltas = Map.empty[Int, List[String]]
    text.split('\n').map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split(' ') match {
        case Array("buckets", b) =>
          buckets = b.toInt
          // a split store legitimately reports numBuckets·2^m; anything
          // else means the bucket function changed under the data
          // cur > 0 guards Int overflow on a corrupt/hostile bucket count
          // (2^30 → -2^31 → 0 would otherwise spin forever); overflow falls
          // through to the require failure instead of hanging the reader
          var cur = numBuckets
          while (cur > 0 && cur < buckets) cur *= 2
          require(cur == buckets,
            s"store at $path was written with $buckets buckets; this " +
              s"instance is configured with $numBuckets — the bucket count " +
              "may only grow by doubling (split), never change otherwise")
        case Array("hashfn", h) =>
          sawHashFn = true
          require(h == "fnv1a64",
            s"store at $path was written with bucket hash '$h'; this build " +
              "buckets with fnv1a64 — the bucket function must not change " +
              "under an existing store")
        case Array("gc", g) => gc = g.toLong
        case Array("applied", a) => applied = a.toLong
        // absent in pre-two-phase manifests of this layout: default -1.
        // (Conversely a manifest WITH this line is refused by pre-two-phase
        // readers — acceptable one-way compatibility for a pre-release
        // store, the same stance the hashfn line takes.)
        case Array("pending", p, e) => pending = p.toLong; pendingEpoch = e.toLong
        // epoch-less interim form: candidate honored, epoch unknown → -1,
        // which re-arms at the next capture before any promotion
        case Array("pending", p) => pending = p.toLong
        case Array("dir", d, b) => mods += d -> b.toInt
        case Array("bucket", k, b, d) =>
          val kk = k.toInt
          if (b != "-") base += kk -> b
          if (d != "-") deltas += kk -> d.split(',').toList
        case other => sys.error(s"bad manifest line: ${other.mkString(" ")}")
      }
    }
    require(sawHashFn,
      s"store at $path predates the fnv1a64 bucket layout (legacy murmur3 " +
        "bucketing); rebuild the store from the changelog — the bucket " +
        "function must not change under existing data")
    val m = Manifest(seq, buckets, gc, applied, pending, pendingEpoch,
      mods, base, deltas)
    // legacy tolerance within this layout: a dir with no `dir` line was
    // written under the manifest's own bucket count
    m.copy(mods = m.liveDirs.map(d => d -> m.mods.getOrElse(d, buckets)).toMap)
  }

  private def readManifest(f: org.apache.hadoop.fs.FileSystem, seq: Int): Manifest = {
    val in = f.open(manifestPath(seq))
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 8192, false)
      new String(bytes.toByteArray, UTF_8)
    } finally in.close()
    parse(seq, text)
  }

  private def loadManifest(spark: SparkSession): Option[Manifest] = {
    val f = fs(spark)
    listManifestSeqs(f).lastOption.map(readManifest(f, _))
  }

  /** Atomic commit: write `.tmp`, rename into place. A reader lists
    * committed manifests only, so it never observes the torn write. */
  private def commitManifest(spark: SparkSession, m: Manifest): Unit = {
    val f = fs(spark)
    val tmp = new org.apache.hadoop.fs.Path(f"$path/manifest-${m.seq}%08d.txt.tmp")
    val out = f.create(tmp, true)
    try out.write(render(m).getBytes(UTF_8)) finally out.close()
    f.delete(manifestPath(m.seq), false) // orphan from a crashed commit
    if (!f.rename(tmp, manifestPath(m.seq)))
      throw new java.io.IOException(s"merge: could not commit manifest ${m.seq}")
  }

  /** Drop manifests beyond the retention window, then every data dir no
    * retained manifest references — covers crash-orphaned deltas and
    * superseded bases alike. Retention exists for concurrent readers: a
    * snapshot resolved against any retained manifest stays readable. */
  private def vacuum(spark: SparkSession): Unit = {
    val f = fs(spark)
    val seqs = listManifestSeqs(f)
    seqs.dropRight(keepManifests).foreach(s => f.delete(manifestPath(s), false))
    val referenced = listManifestSeqs(f)
      .flatMap(readManifest(f, _).liveDirs).toSet
    scans.keySet.removeIf(d => !referenced(d))
    val dd = new org.apache.hadoop.fs.Path(dataDir)
    if (f.exists(dd))
      f.listStatus(dd).foreach { st =>
        if (!referenced.contains(st.getPath.getName))
          f.delete(st.getPath, true)
      }
  }

  // ---- read path --------------------------------------------------------

  /** Each committed dir's parquet relation (its file listing and schema),
    * kept by dir name. A dir a committed manifest names never changes: a
    * crash replay rewrites only an uncommitted SEQ and every write takes
    * the next one. Only [[unionLive]] adds entries, for dirs of a loaded
    * manifest; [[vacuum]] drops those no retained manifest names. Each
    * call wraps the relation in the caller's session, as `spark.read`
    * does; a relation built under another SparkContext is rebuilt, since
    * its scans run on the context it holds. */
  @transient private lazy val scans =
    new java.util.concurrent.ConcurrentHashMap[String, BaseRelation]()

  private def dirScan(spark: SparkSession, d: String): DataFrame =
    spark.baseRelationToDataFrame(scans.compute(d, (_, kept) =>
      if (kept != null && (kept.sqlContext.sparkContext eq spark.sparkContext)) kept
      else spark.read.schema(rowSchema).parquet(s"$dataDir/$d")
        .queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
        .get))

  /** The dirs whose relation this instance keeps. */
  private[graft] def keptDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    scans.keySet.asScala.toSet
  }

  def exists(spark: SparkSession): Boolean =
    listManifestSeqs(fs(spark)).nonEmpty

  /** Union of every live dir, pruned to the buckets each dir is live FOR.
    * Physical pruning maps current bucket ids through the dir's write-time
    * modulus (partition pruning keeps dead partitions unread); dirs older
    * than the current modulus additionally re-derive the current bucket
    * from the pk, because one old physical partition holds several current
    * buckets and only some may still be live for this dir. Every row's
    * `bucket` is its current bucket id. */
  private def unionLive(spark: SparkSession, m: Manifest): DataFrame = {
    val byDir = scala.collection.mutable.Map.empty[String, Set[Int]]
    m.base.foreach { case (k, d) => byDir(d) = byDir.getOrElse(d, Set.empty) + k }
    m.deltas.foreach { case (k, ds) =>
      ds.foreach(d => byDir(d) = byDir.getOrElse(d, Set.empty) + k) }
    val parts = byDir.toSeq.sortBy(_._1).map { case (d, ks) =>
      val mod = m.mods.getOrElse(d, m.buckets)
      val physical = ks.map(k => k % mod)
      val scan = dirScan(spark, d).filter(col("bucket").isInCollection(physical))
      if (mod == m.buckets) scan
      else scan.withColumn("bucket", bucketCol(m.buckets))
        .filter(col("bucket").isInCollection(ks))
    }
    parts.reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rowSchema))
  }

  /** Last-writer-wins per `keys`: the highest-LSN row wins. Ties (the
    * same (pk,lsn) re-delivered into two deltas) carry identical content,
    * so any winner is the same row. */
  private def lww(df: DataFrame, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("lsn").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Full snapshot including tombstones: pk, lsn, deleted, attrs — the
    * merge-on-read collapse, latest change per pk. */
  def snapshot(spark: SparkSession): DataFrame = lww(
    unionLive(spark, loadManifest(spark).getOrElse(emptyManifest)), "pk")
    .drop("bucket")

  /** Live rows (tombstones filtered). */
  def current(spark: SparkSession): DataFrame =
    snapshot(spark).filter(!col("deleted")).drop("deleted")

  /** The recorded replay horizon (−1 before any [[gc]]). */
  def gcHorizon(spark: SparkSession): Long =
    loadManifest(spark).map(_.gc).getOrElse(-1L)

  /** The applied watermark: max LSN any committed merge carried (−1 for an
    * empty store). [[gc]] never records a horizon above this. */
  def appliedLsn(spark: SparkSession): Long =
    loadManifest(spark).map(_.applied).getOrElse(-1L)

  /** The store's current bucket count (doubles under [[split]]). */
  def currentBuckets(spark: SparkSession): Int =
    loadManifest(spark).map(_.buckets).getOrElse(numBuckets)

  /** Operational stats from the manifest alone (no data reads): one row
    * per bucket with data — (bucket, has_base, n_deltas) — the numbers an
    * operator watches for compaction pressure and read fan-in. */
  def stats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val m = loadManifest(spark).getOrElse(emptyManifest)
    (m.base.keySet ++ m.deltas.keySet).toSeq.sorted
      .map(k => (k, m.base.contains(k), m.deltas.getOrElse(k, Nil).size))
      .toDF("bucket", "has_base", "n_deltas")
  }

  // ---- write path -------------------------------------------------------

  /** Max LSN over every change ever OFFERED to [[merge]] by this store
    * instance — before the table filter and the refusal filter, so it
    * tracks offerings, not acceptances. In-memory by design: a restart
    * resets it to −1 and the checkpointed stream's replay rebuilds it,
    * which can only DELAY a gated promotion (safe direction), never allow
    * one early. Read by [[MergeStream.run]]'s promotion gate. */
  @volatile private var offeredMax: Long = -1L

  /** The offered watermark (−1 before any merge in this process). */
  def offeredLsn: Long = offeredMax

  /** Apply one micro-batch. Re-delivery-safe and order-safe: a stored row
    * is replaced only by a change with a strictly higher LSN, and changes
    * at or below the GC horizon are refused outright. Costs one narrow
    * stats aggregate and one write ([[commitWrite]]): at streaming cadence
    * the per-batch job count IS the merge operator's fixed cost. */
  def merge(changes: DataFrame): Unit = {
    val spark = changes.sparkSession
    val m = loadManifest(spark).getOrElse(emptyManifest)
    val lsn = col("lsn").cast("long")
    val bucket = bucketCol(m.buckets, col("primary_key"))
    // accepted: mapped table only, null-After updates skipped, blind
    // deletes (no REPLICA IDENTITY old tuple → empty pk) dropped — they
    // identify no row (reference: internal/cdc/postgres/postgres.go:602-
    // 619) — and nothing at or below the GC horizon
    val ok = concat(col("schema"), lit("."), col("table")) === table &&
      (col("op") === "d" || col("after").isNotNull) &&
      col("primary_key") =!= "" && lsn > lit(m.gc)
    // the one stats pass over the raw batch (narrow columns, no window):
    // the offered max before any filter, the accepted max — null exactly
    // when nothing is accepted, and an empty trigger must not commit a
    // manifest — and the touched buckets
    val st = changes.agg(max(lsn), max(when(ok, lsn)),
      collect_set(when(ok, bucket))).head()
    if (!st.isNullAt(0)) offeredMax = math.max(offeredMax, st.getLong(0))
    if (st.isNullAt(1)) return
    val touched = st.getSeq[Int](2).toSet // ≤ numBuckets values
    // this batch's delta would push these past maxDeltasPerBucket
    val over = touched.filter(k =>
      m.deltas.getOrElse(k, Nil).size >= maxDeltasPerBucket)
    // post-split drain: migrate ONE stale bucket per merge (lowest id
    // whose live dirs include an old-modulus dir) so old-modulus dirs
    // retire deterministically instead of readers paying the pk
    // re-derivation filter forever on a bucket that never compacts.
    val stale = (m.base.keySet ++ m.deltas.keySet).filter { k =>
      (m.base.get(k).toList ::: m.deltas.getOrElse(k, Nil))
        .exists(d => m.mods.getOrElse(d, m.buckets) != m.buckets)
    } -- over
    val rows = changes.filter(ok).select(Seq(col("primary_key").as("pk"),
      lsn.as("lsn"), (col("op") === "d").as("deleted")) ++
      attrs.map(c => element_at(col("after"), c).cast("string").as(c)) :+
      bucket.as("bucket"): _*)
    val next = commitWrite(spark, m, Some(rows), touched,
      over ++ stale.toSeq.sorted.headOption, math.max(m.applied, st.getLong(1)))
    maybeSplit(spark, next, touched)
  }

  /** The one write of a commit, then the commit. Unions `rows` (accepted
    * changes, current bucket ids) with the live rows of the `compact`
    * buckets, shuffles once by bucket into min(buckets written, shuffle
    * partitions) tasks — a fixed count AQE does not coalesce into one
    * task writing every bucket in series — collapses last-writer-wins per
    * (bucket, pk), drops tombstones at or below the horizon (only live
    * rows can carry one: [[merge]] refuses such changes), and writes one
    * dir, one file per bucket. The manifest records it as the new base of
    * every compacted bucket and as a new delta of every other touched
    * bucket; it is named `base-SEQ` when it compacts anything, else
    * `delta-SEQ`. Compaction lands under the CURRENT modulus, which is
    * what retires old-modulus dirs after a [[split]]; other buckets' files
    * are untouched by construction. */
  private def commitWrite(spark: SparkSession, m: Manifest,
                          rows: Option[DataFrame], touched: Set[Int],
                          compact: Set[Int], applied: Long): Manifest = {
    val seq = m.seq + 1
    val name = f"${if (compact.isEmpty) "delta" else "base"}-$seq%08d"
    val live = if (compact.isEmpty) None else Some(unionLive(spark, m.copy(
      base = m.base.filter(kv => compact(kv._1)),
      deltas = m.deltas.filter(kv => compact(kv._1)))))
    val n = math.min((touched ++ compact).size,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // mode=overwrite clobbers an orphan of the same seq left by a crash
    // before the manifest commit (that batch is replaying through here)
    lww((rows ++ live).reduce(_.unionByName(_))
      .repartition(n, col("bucket")), "bucket", "pk")
      .filter(!col("deleted") || col("lsn") > lit(m.gc))
      .write.options(LocalFs.options).partitionBy("bucket").mode("overwrite")
      .parquet(s"$dataDir/$name")
    val next = m.copy(seq = seq, applied = applied,
      mods = m.mods + (name -> m.buckets),
      base = m.base ++ compact.map(_ -> name),
      deltas = (touched -- compact).foldLeft(m.deltas -- compact)((d, k) =>
        d.updated(k, d.getOrElse(k, Nil) :+ name)))
    commitManifest(spark, next)
    vacuum(spark)
    next
  }

  /** Record the source's replay horizon — slot confirmed_flush: nothing at
    * or below it will ever be delivered again — clamped to the APPLIED
    * watermark (a receive loop acks segments ahead of what the streaming
    * query has merged; recording the unclamped value would make [[merge]]
    * refuse those segments' first delivery as if it were a replay —
    * permanent row loss). This is an O(manifest) commit: NO data files are
    * touched; pre-horizon tombstones drop at each bucket's next threshold
    * compaction or an explicit [[compactAll]]. Monotonic: a lower horizon
    * than the recorded one is a no-op.
    *
    * CONTRACT: the applied clamp is defense-in-depth, NOT a full guarantee
    * under out-of-order chunk delivery. `applied` is the MAX merged LSN;
    * if the source can deliver chunks out of LSN order, a later-LSN chunk
    * merging first lifts `applied` above an earlier not-yet-merged chunk,
    * and a horizon recorded in that window silently refuses the earlier
    * chunk's FIRST delivery. Call this directly only when every chunk at
    * or below `horizon` is known already merged (in-order delivery, or an
    * operator checkpointing after a drain); otherwise use [[gcTwoPhase]],
    * which defers the horizon one gc cycle so intervening merges close
    * exactly that window. */
  def gc(spark: SparkSession, horizon: Long): Unit = {
    val m = loadManifest(spark).getOrElse(emptyManifest)
    val h = math.max(m.gc, math.min(horizon, m.applied))
    if (h == m.gc) return
    commitManifest(spark, m.copy(seq = m.seq + 1, gc = h))
    vacuum(spark)
  }

  /** Two-phase GC for an operated loop: records `horizon` as the PENDING
    * candidate (tagged with `epoch`) and promotes a previously-captured
    * candidate (clamped to the applied watermark, monotonic) to the live
    * horizon — one O(manifest) commit, no data reads.
    *
    * `epoch` is the streaming micro-batch id: MONOTONE and — critically —
    * STABLE ACROSS CRASH REPLAYS. Promotion requires `epoch` to be
    * strictly GREATER than the captured candidate's epoch, so a replayed
    * batch (same id, planned over its pre-capture file set) can never
    * promote its own capture — only a genuinely LATER batch, whose
    * planning listed the source directory after the capture, can.
    *
    * Why that closes the out-of-order race [[gc]] alone cannot: the
    * provider (the receive loop's flushed LSN) only returns X after every
    * segment at or below X is durably in the source directory, and the
    * file source plans each micro-batch over ALL files visible at
    * planning time. A later-epoch batch was planned after the capture,
    * merged its files BEFORE its own gc step runs, and therefore every
    * segment at or below the promoted value has been OFFERED to [[merge]]
    * before it becomes the refusal horizon — no first delivery can be
    * refused, even when chunks land out of LSN order. (With
    * `maxFilesPerTrigger` throttling the file source, size
    * `gcEveryBatches` ≥ the worst-case batches-per-drain so a full
    * directory listing still lands between capture and promotion.) */
  def gcTwoPhase(spark: SparkSession, horizon: Long, epoch: Long,
                 promotionSafe: Boolean = true): Unit = {
    val m = loadManifest(spark).getOrElse(emptyManifest)
    // an epoch BELOW the recorded one means the stream restarted with a
    // fresh checkpoint (batch ids rebased to 0): the old epoch domain is
    // gone, so re-arm at the current epoch — the candidate then promotes
    // one genuine cycle later instead of stalling until the new stream's
    // ids catch up to the old domain. A crash REPLAY has epoch EQUAL to
    // the recorded one and still cannot promote.
    val basePe = if (m.pendingEpoch > epoch) epoch else m.pendingEpoch
    // promotionSafe is the caller's THROTTLE-INVARIANT check (see
    // [[MergeStream.run]]): under maxFilesPerTrigger a gc cycle of
    // micro-batches is NOT guaranteed to drain the source directory, so
    // the epoch argument alone does not cover a backlog longer than one
    // cycle — the caller verifies the candidate's segments were actually
    // offered (offeredLsn ≥ the listing's required offer) and withholds
    // promotion otherwise. Capture still proceeds: a withheld candidate
    // promotes at the first later-epoch call whose check passes.
    val canPromote = promotionSafe && basePe >= 0 && epoch > basePe
    val h =
      if (canPromote) math.max(m.gc, math.min(m.pending, m.applied)) else m.gc
    val p = math.max(m.pending, horizon)
    // the epoch tags the newest capture that RAISED the candidate; a
    // static candidate keeps its original epoch so promotion stays armed
    val pe = if (p > m.pending || basePe < 0) epoch else basePe
    if (h == m.gc && p == m.pending && pe == m.pendingEpoch) return
    commitManifest(spark,
      m.copy(seq = m.seq + 1, gc = h, pending = p, pendingEpoch = pe))
    vacuum(spark)
  }

  /** The recorded two-phase GC candidate (−1 before any [[gcTwoPhase]]):
    * becomes the live horizon at the first later-epoch [[gcTwoPhase]]. */
  def pendingGcHorizon(spark: SparkSession): Long =
    loadManifest(spark).map(_.pending).getOrElse(-1L)

  /** Offline maintenance: compact every bucket that has data — drops all
    * tombstones at or below the recorded horizon and retires old-modulus
    * dirs after a [[split]]. The O(state) pass an operator schedules
    * deliberately (off-peak), never something the streaming loop runs on
    * a timer. Writes through [[merge]]'s one-write routine. */
  def compactAll(spark: SparkSession): Unit = {
    val m = loadManifest(spark).getOrElse(emptyManifest)
    val all = m.base.keySet ++ m.deltas.keySet
    if (all.nonEmpty) commitWrite(spark, m, None, Set.empty, all, m.applied)
  }

  /** Double the bucket count — a MANIFEST-ONLY commit, zero data writes.
    * Each bucket k's dirs become live for k and k+B: a dir written at
    * modulus B holds exactly the pks of new buckets k and k+B (pmod(h, B)
    * = pmod(pmod(h, 2B), B)), so old data stays addressable; readers
    * re-derive the current bucket for old-modulus dirs and compaction
    * migrates them to the new modulus lazily. */
  def split(spark: SparkSession): Unit = {
    val m = loadManifest(spark).getOrElse(emptyManifest)
    val b = m.buckets
    // parse() defends against an overflowed bucket count; the producer
    // must refuse to create one. 2^29 buckets is far beyond any sane
    // layout (100 TB / 2^29 ≈ 200 KB per bucket) — a threshold set below
    // a bucket's irreducible base size would otherwise absorb-and-double
    // forever until b*2 wraps negative and bricks the store.
    require(b < ParquetTableStore.MaxBuckets,
      s"split: bucket count $b at the safety cap — raise " +
        "splitThresholdBytes; the data/threshold ratio is asking for an " +
        "absurd layout")
    val next = m.copy(seq = m.seq + 1, buckets = b * 2,
      base = m.base ++ m.base.map { case (k, d) => (k + b, d) },
      deltas = m.deltas ++ m.deltas.map { case (k, ds) => (k + b, ds) })
    commitManifest(spark, next)
    vacuum(spark)
  }

  /** Auto-split check after a merge: if any touched bucket's base
    * partition outgrew `splitThresholdBytes`, double the bucket count so
    * the NEXT compactions write smaller units. Checks only touched
    * buckets' base dirs — an fs metadata call per touched bucket, no data
    * reads.
    *
    * Only bases written at the CURRENT modulus are considered: after a
    * split, an old-modulus base partition physically holds ALL descendant
    * buckets' bytes, so measuring it against the threshold would re-fire a
    * doubling on every subsequent merge until compaction finally rewrites
    * it — geometric manifest inflation decoupled from data size. Skipping
    * pending-split dirs means each doubling must be absorbed (the bucket
    * compacted at the new modulus) before its measured size can justify
    * the next one (spec-pinned upper bound). */
  private def maybeSplit(spark: SparkSession, m: Manifest,
                         touched: Set[Int]): Unit = {
    if (splitThresholdBytes == Long.MaxValue) return
    if (m.buckets >= ParquetTableStore.MaxBuckets) return // cap: never wrap
    val f = fs(spark)
    val oversized = touched.exists { k =>
      m.base.get(k).exists { d =>
        m.mods.getOrElse(d, m.buckets) == m.buckets && {
          val p = new org.apache.hadoop.fs.Path(s"$dataDir/$d/bucket=$k")
          f.exists(p) && f.getContentSummary(p).getLength > splitThresholdBytes
        }
      }
    }
    if (oversized) split(spark)
  }
}

object ParquetTableStore {
  /** Hard ceiling on [[ParquetTableStore.split]] doubling: 2^29 buckets
    * (100 TB / 2^29 ≈ 200 KB per bucket — far past any sane layout) keeps
    * `buckets * 2` from ever wrapping Int. */
  val MaxBuckets: Int = 1 << 29
}

/** Structured-Streaming runner: change envelopes → [[ParquetTableStore]]
  * via foreachBatch, checkpointed. The relational-state sibling of
  * [[CdcStream.run]] (which maintains the vector store). */
object MergeStream {

  /** Runs the store's merge over a checkpointed change stream.
    *
    * `gcHorizon`, when given, turns tombstone GC into an operated loop:
    * every `gcEveryBatches` micro-batches the store runs one two-phase GC
    * step — the provider's current value becomes the PENDING candidate and
    * the previous cycle's candidate becomes the live replay horizon
    * ([[ParquetTableStore.gcTwoPhase]]). For the live topology the
    * provider is the receive loop's durably-acked position
    * (`WalReceiveLoop.flushedLsn`), below which the slot never
    * re-delivers. The provider may regress, lag, or RUN AHEAD of the
    * streaming query freely: promotion is monotonic, clamps to the
    * store's applied watermark, and — because every segment at or below a
    * captured candidate was on disk before capture and a full gc cycle of
    * micro-batches drains the directory before promotion — a segment's
    * first delivery is never refused as a replay, even out of LSN order.
    * The gc step itself is an O(manifest) commit — no data rewrite
    * happens on this timer.
    *
    * `wireFormat` selects the source: "json" (default) reads envelope
    * lines through Spark's file source; "pgoutput" reads binary WAL
    * segments through the `graft-pgoutput` replay source (the live
    * topology's tap output). `retireSegments` (pgoutput only) closes the
    * unbounded-growth path: on every gc tick, after the two-phase horizon
    * work, segment files wholly at or below the LIVE horizon are deleted
    * ([[SegmentRetention]]); the replay source's marker-aware offsets keep
    * checkpointed restarts exact across the deletions.
    *
    * Throttle invariant, ENFORCED: with `maxFilesPerTrigger` bounding each
    * micro-batch, a gc cycle does not necessarily drain the source
    * directory, so before promoting a candidate the runner checks — one
    * O(listing) pass with cached per-file LSN ranges — that every segment
    * holding content at or below the candidate has been OFFERED to the
    * merge (`store.offeredLsn ≥ index.requiredOfferFor(candidate)`).
    * A backlog longer than one gc cycle now simply DEFERS promotion until
    * the stream catches up, instead of silently re-opening the refusal
    * race. */
  def run(spark: SparkSession, sourceDir: String, storeDir: String,
          checkpointDir: String, flushIntervalMs: Long = 500,
          table: String = "public.documents",
          attrCols: Seq[String] =
            Seq("title", "content", "created_at", "author"),
          gcHorizon: Option[() => Long] = None,
          gcEveryBatches: Int = 64,
          wireFormat: String = "json",
          retireSegments: Boolean = false,
          maxFilesPerTrigger: Int = 16): StreamingQuery = {
    require(gcEveryBatches > 0)
    require(wireFormat == "json" || wireFormat == "pgoutput",
      s"unknown wireFormat '$wireFormat'")
    require(!retireSegments || wireFormat == "pgoutput",
      "segment retention requires the graft-pgoutput source — Spark's " +
        "generic file source fails on files deleted under it")
    val store = new ParquetTableStore(storeDir, table, attrCols)
    val index = new SegmentLsnIndex(sourceDir,
      spark.sparkContext.hadoopConfiguration, wireFormat)
    val retention =
      if (retireSegments)
        Some(new SegmentRetention(sourceDir,
          spark.sparkContext.hadoopConfiguration, index))
      else None
    var sinceGc = 0
    val source =
      if (wireFormat == "pgoutput")
        CdcStream.readEnvelopesV2(spark, sourceDir,
          maxFilesPerTrigger = maxFilesPerTrigger, wireFormat = "pgoutput")
      else CdcStream.readEnvelopes(spark, sourceDir, maxFilesPerTrigger)
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(flushIntervalMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.merge(batch)
        gcHorizon.foreach { h =>
          sinceGc += 1
          if (sinceGc >= gcEveryBatches) {
            sinceGc = 0
            // the throttle-invariant check: promotion only once every
            // segment with content at or below the candidate was offered
            val candidate = store.pendingGcHorizon(spark)
            val safe = candidate < 0 ||
              index.requiredOfferFor(candidate) <= store.offeredLsn
            // batchId is the promotion epoch: monotone and stable across
            // crash replays, so a replayed batch cannot promote the
            // candidate it captured itself
            store.gcTwoPhase(spark, h(), batchId, promotionSafe = safe)
            retention.foreach { r =>
              val live = store.gcHorizon(spark)
              if (live >= 0) r.retire(live)
            }
          }
        }
      }
      .start()
  }
}
