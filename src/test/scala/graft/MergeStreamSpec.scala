package graft

import graft.cdc.Changelog
import graft.stream.{MergeStream, ParquetTableStore}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The streaming MERGE sink must converge to the batch replay's state under
  * chunked, re-delivered, and out-of-order delivery — the LSN-monotonic
  * exactly-once-effect contract. */
class MergeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-merge").toString

  /** Batch twin: latest effective change per pk, deletes and blind deletes
    * excluded — what the store's `current` view must equal. */
  private def batchState(): Set[(String, String, String)] = {
    val w = Window.partitionBy(col("primary_key"))
      .orderBy(col("lsn").cast("long").desc)
    Changelog.changes(spark, sfDir)
      .filter(concat(col("schema"), lit("."), col("table")) === "public.documents" &&
        (col("op") === "d" || col("after").isNotNull) &&
        col("primary_key") =!= "")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(col("primary_key"),
        element_at(col("after"), "title"), element_at(col("after"), "content"))
      .as[(String, String, String)].collect().toSet
  }

  private def currentState(store: ParquetTableStore): Set[(String, String, String)] =
    store.current(spark).select("pk", "title", "content")
      .as[(String, String, String)].collect().toSet

  test("streamed chunks converge to batch state; re-delivery and " +
    "out-of-order application are no-ops") {
    val env = Changelog.envelopes(spark, sfDir).cache()
    val lsnOf = get_json_object($"value", "$.lsn").cast("long")
    val median = env.select(lsnOf.as("l")).stat.approxQuantile("l", Array(0.5), 0).head

    val src = tmp()
    env.filter(lsnOf <= median).coalesce(1).write.mode("overwrite").text(src)

    val store = tmp() + "/state"; val ckpt = tmp() + "/ckpt"
    val q1 = MergeStream.run(spark, src, store, ckpt)
    q1.processAllAvailable(); q1.stop()
    val mid = currentState(new ParquetTableStore(store))
    assert(mid.nonEmpty)

    // second chunk arrives; restart from checkpoint
    env.filter(lsnOf > median).coalesce(1).write.mode("append").text(src)
    val q2 = MergeStream.run(spark, src, store, ckpt)
    q2.processAllAvailable(); q2.stop()

    val expected = batchState()
    assert(currentState(new ParquetTableStore(store)) == expected)
    assert(mid != expected) // the second chunk actually changed state

    // full re-delivery from a FRESH checkpoint (at-least-once worst case):
    // every change replays, state must not move
    val q3 = MergeStream.run(spark, src, store, tmp() + "/ckpt2")
    q3.processAllAvailable(); q3.stop()
    assert(currentState(new ParquetTableStore(store)) == expected)

    // out-of-order: apply the chunks newest-first against a fresh store —
    // LSN monotonicity must converge to the same state
    val store2 = new ParquetTableStore(tmp() + "/state2")
    val parsed = Changelog.changes(spark, sfDir).withColumn("l", col("lsn").cast("long"))
    store2.merge(parsed.filter(col("l") > median).drop("l"))
    store2.merge(parsed.filter(col("l") <= median).drop("l"))
    assert(currentState(store2) == expected)
  }

  test("tombstones block late re-delivery of pre-delete upserts") {
    val store = new ParquetTableStore(tmp() + "/state")
    def change(op: String, pk: String, lsn: Long, content: String): DataFrame =
      Seq((op, "public", "documents", pk, lsn.toString, content)).toDF(
        "op", "schema", "table", "primary_key", "lsn", "c")
        .select(col("op"), col("schema"), col("table"), col("primary_key"),
          col("lsn"),
          when(col("op") =!= "d", map(lit("content"), col("c"))).as("after"))
    store.merge(change("c", "1", 10, "v1"))
    store.merge(change("d", "1", 30, null))
    // the upsert at lsn 20 was already superseded by the delete at 30:
    // re-delivering it must NOT resurrect the row
    store.merge(change("u", "1", 20, "v2"))
    assert(store.current(spark).count() == 0)
  }

  private def change(op: String, pk: String, lsn: Long, c: String): DataFrame =
    Seq((op, "public", "documents", pk, lsn.toString, c)).toDF(
      "op", "schema", "table", "primary_key", "lsn", "c")
      .select(col("op"), col("schema"), col("table"), col("primary_key"),
        col("lsn"),
        when(col("op") =!= "d", map(lit("content"), col("c"))).as("after"))

  /** (relative path → (length, md5)) for every data file under the store. */
  private def dataFiles(dir: String): Map[String, (Long, String)] = {
    val root = java.nio.file.Paths.get(dir, "data")
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          root.relativize(p).toString -> (bytes.length.toLong, md5.map("%02x".format(_)).mkString)
        }.toMap
      finally walk.close()
    }
  }

  test("seeded random chunking + shuffled order + duplicated chunk still " +
    "converges to the batch state") {
    // beyond the two-chunk ordered/reversed scenarios: 6 hash-random
    // chunks applied in a seeded shuffle with one chunk delivered twice —
    // the LSN-monotonic contract must make ANY such schedule converge
    val store = new ParquetTableStore(tmp() + "/state")
    val parsed = Changelog.changes(spark, sfDir)
      .withColumn("chunk", pmod(xxhash64(lit("interleave"), col("lsn")), lit(6)))
    val order = new scala.util.Random(42).shuffle((0 until 6).toList) :+ 2
    order.foreach(c => store.merge(parsed.filter(col("chunk") === c).drop("chunk")))
    assert(currentState(store) == batchState(),
      s"random schedule $order diverged from the batch state")
  }

  test("a merge rewrites only touched buckets: untouched buckets' files " +
    "stay byte-identical") {
    // maxDeltas 1: the third merge folds bucket bA's compaction into its
    // one write, which must keep the same guarantees
    for (maxDeltas <- Seq(4, 1)) {
      val dir = tmp() + "/table"
      val store = new ParquetTableStore(dir, numBuckets = 4,
        maxDeltasPerBucket = maxDeltas)
      // find two pks landing in different buckets under pmod(fnv1a64(pk), 4)
      val bucketOf = (1 to 16).map(_.toString).toDF("pk")
        .select(col("pk"), pmod(graft.ops.VectorOps.fnv1a64(col("pk")), lit(4L))
          .cast("int").as("b"))
        .as[(String, Int)].collect().toMap // one job, not 16
      val (pkA, bA) = bucketOf.head
      val (pkB, bB) = bucketOf.find(_._2 != bA).get
      store.merge(change("c", pkA, 10, "a1"))
      store.merge(change("c", pkB, 20, "b1"))
      val before = dataFiles(dir)
      assert(before.keys.exists(_.contains(s"bucket=$bB")), "fixture broken")
      // touch ONLY pkA's bucket
      store.merge(change("u", pkA, 30, "a2"))
      val after = dataFiles(dir)
      // every pkB-bucket file survives the merge byte-for-byte — the O(state)
      // full-rewrite path would have rewritten (and re-encoded) all of them
      val untouched = before.filter(_._1.contains(s"bucket=$bB"))
      untouched.foreach { case (p, sig) =>
        assert(after.get(p).contains(sig),
          s"untouched-bucket file $p was rewritten or dropped by the merge")
      }
      assert(store.current(spark).select("pk", "content").as[(String, String)]
        .collect().toSet == Set((pkA, "a2"), (pkB, "b1")))
      if (maxDeltas == 1) {
        assert(store.stats(spark).as[(Int, Boolean, Int)].collect()
          .contains((bA, true, 0)), "the merge did not compact bucket bA")
        val Seq(pkC, pkD) = bucketOf.collect {
          case (pk, b) if b == bA && pk != pkA => pk }.toSeq.sorted.take(2)
        // a tombstone that will sit at the GC horizon, in a delta of bA
        store.merge(change("d", pkC, 12, null))
        store.gc(spark, 12)
        assert(store.gcHorizon(spark) == 12)
        // one batch touching only bA (second delta → compaction folded in):
        // a re-delivered older-LSN upsert of pkA above the horizon, and a
        // tombstone above it
        store.merge(change("u", pkA, 25, "stale")
          .unionByName(change("d", pkD, 35, null)))
        assert(store.snapshot(spark).select("pk", "lsn", "deleted")
          .as[(String, Long, Boolean)].collect().toSet ==
          Set((pkA, 30L, false), (pkB, 20L, false), (pkD, 35L, true)),
          "compacting merge let an older LSN win, kept a tombstone at the " +
            "horizon, or dropped one above it")
        assert(store.stats(spark).as[(Int, Boolean, Int)].collect()
          .contains((bA, true, 0)), "the merge did not compact bucket bA")
        val end = dataFiles(dir)
        untouched.foreach { case (p, sig) =>
          assert(end.get(p).contains(sig),
            s"untouched-bucket file $p was rewritten by a compacting merge")
        }
      }
    }
  }

  test("a merge costs at most four Spark jobs: one stats aggregate and " +
    "one write, also when it folds in a bucket compaction") {
    val plain = new ParquetTableStore(tmp() + "/plain")
    plain.merge(change("c", "1", 10, "v1"))
    val plainJobs = SparkJobs.jobsIn(spark)(plain.merge(change("c", "2", 20, "v2")
      .unionByName(change("u", "1", 30, "v3"))))
    assert(plainJobs <= 4, s"a plain merge ran $plainJobs jobs")
    val folded = new ParquetTableStore(tmp() + "/folded", numBuckets = 1,
      maxDeltasPerBucket = 1)
    folded.merge(change("c", "1", 10, "v1"))
    val foldedJobs = SparkJobs.jobsIn(spark)(folded.merge(change("c", "2", 20, "v2")))
    assert(folded.stats(spark).as[(Int, Boolean, Int)].collect().toSeq ==
      Seq((0, true, 0)), "fixture broken: the merge did not compact")
    assert(foldedJobs <= 4, s"a compacting merge ran $foldedJobs jobs")
    assert(plain.current(spark).count() == 2 &&
      folded.current(spark).count() == 2)
  }

  test("delta accumulation is bounded: per-bucket compaction + vacuum keep " +
    "file count flat over many merges") {
    val dir = tmp() + "/table"
    val store = new ParquetTableStore(dir, numBuckets = 1,
      maxDeltasPerBucket = 2, keepManifests = 2)
    (1 to 12).foreach(i => store.merge(change("c", i.toString, i * 10L, s"v$i")))
    assert(store.current(spark).count() == 12)
    // the manifest-level stats view agrees with the compaction bound
    val st = store.stats(spark).as[(Int, Boolean, Int)].collect()
    assert(st.length == 1 && st.head._2 && st.head._3 <= 2,
      s"stats diverged from the compaction contract: ${st.toSeq}")
    // live dirs for the single bucket: one base + ≤ maxDeltas deltas; plus
    // at most one manifest-retention generation of superseded dirs
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data"))
    val n = try dirs.count() finally dirs.close()
    assert(n <= 8, s"vacuum/compaction failed to bound data dirs: $n on disk")
    val manifests = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val mN = try manifests.filter(_.getFileName.toString.startsWith("manifest-")).count()
    finally manifests.close()
    assert(mN <= 2, s"manifest retention failed: $mN manifests on disk")
  }

  test("GC is O(manifest): records the horizon clamped to the applied " +
    "watermark, touches zero data files; tombstones drop at the next " +
    "compaction; pre-horizon re-delivery still cannot resurrect") {
    val dir = tmp() + "/table"
    val store = new ParquetTableStore(dir)
    store.merge(change("c", "1", 10, "v1"))
    store.merge(change("d", "1", 30, null))
    assert(store.snapshot(spark).count() == 1) // the tombstone row
    // the receive loop acked up to 50, but the stream only MERGED up to 30
    // (applied watermark): the recorded horizon must clamp to 30, and the
    // gc commit must be manifest-only — no data file rewritten or dropped
    val before = dataFiles(dir)
    store.gc(spark, 50)
    assert(store.gcHorizon(spark) == 30,
      "horizon not clamped to the applied watermark")
    assert(dataFiles(dir) == before, "gc touched data files (must be O(manifest))")
    // the tombstone SURVIVES until compaction (lazy drop) ...
    assert(store.snapshot(spark).count() == 1)
    // ... and drops at the next compaction pass
    store.compactAll(spark)
    assert(store.snapshot(spark).count() == 0, "tombstone not dropped at compaction")
    // contract-violating re-delivery of the pre-delete upsert: the horizon
    // filter must refuse it — without the filter, the dropped tombstone
    // would let it resurrect the deleted row
    store.merge(change("u", "1", 20, "v2"))
    assert(store.current(spark).count() == 0, "GC'd delete was resurrected")
    // post-horizon changes flow normally
    store.merge(change("c", "1", 60, "v3"))
    assert(store.current(spark).select("content").as[String].collect().toSeq
      == Seq("v3"))
    // a lower horizon later must not regress the recorded one
    store.gc(spark, 20)
    assert(store.gcHorizon(spark) == 30)
  }

  test("GC horizon running AHEAD of the merge stream does not drop " +
    "first-time deliveries of acked-but-unmerged segments") {
    // the race: WalReceiveLoop.flushedLsn tracks what the segment tap has
    // durably WRITTEN, which runs ahead of what the streaming query has
    // MERGED. An unclamped gc at the tap's horizon would make merge's
    // refusal filter discard those segments' changes as replays.
    val store = new ParquetTableStore(tmp() + "/table")
    store.merge(change("c", "1", 10, "v1")) // applied = 10
    // tap has acked through 1000; segments 20/30 are written but not merged
    store.gc(spark, 1000)
    assert(store.gcHorizon(spark) == 10, "horizon must clamp to applied=10")
    // first-time delivery of the acked-but-unmerged segment must APPLY
    store.merge(change("u", "1", 20, "v2"))
    assert(store.current(spark).select("content").as[String].collect().toSeq
      == Seq("v2"), "first-time delivery was refused as a replay — row loss")
  }

  test("orphan delta dir from a crash before manifest commit is " +
    "overwritten by the replayed batch") {
    val dir = tmp() + "/table"
    val store = new ParquetTableStore(dir)
    store.merge(change("c", "1", 10, "v1")) // commits manifest seq 1
    // crash window: the NEXT merge wrote its delta dir but died before the
    // manifest commit — fabricate the orphan with junk content
    val orphan = java.nio.file.Paths.get(dir, "data", "delta-00000002")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk"), "not parquet".getBytes)
    // the streaming checkpoint replays that batch: same seq, overwrite wins
    store.merge(change("c", "2", 20, "v2"))
    assert(store.current(spark).select("pk", "content").as[(String, String)]
      .collect().toSet == Set(("1", "v1"), ("2", "v2")),
      "orphan delta corrupted the replayed merge")
    assert(!java.nio.file.Files.exists(orphan.resolve("junk")),
      "junk file survived the overwrite")
  }

  test("retention window: a reader that resolved an older manifest still " +
    "finds every dir it references after later merges") {
    val dir = tmp() + "/table"
    val store = new ParquetTableStore(dir, numBuckets = 2,
      maxDeltasPerBucket = 2, keepManifests = 3)
    store.merge(change("c", "1", 10, "v1"))
    store.merge(change("c", "2", 20, "v2"))
    // a slow reader resolves NOW (manifest seq 2) ...
    val resolvedDirs = {
      val m = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val latest = try m.filter(_.getFileName.toString.startsWith("manifest-"))
        .sorted(java.util.Comparator.naturalOrder()).reduce((_, b) => b).get()
      finally m.close()
      new String(java.nio.file.Files.readAllBytes(latest)).split('\n')
        .filter(_.startsWith("bucket ")).flatMap { l =>
          val p = l.split(' ')
          (Seq(p(2)) ++ p(3).split(',')).filter(_ != "-")
        }.toSet
    }
    assert(resolvedDirs.nonEmpty)
    // ... while the writer commits two more generations (within the
    // retention window of 3 manifests)
    store.merge(change("c", "3", 30, "v3"))
    store.merge(change("c", "4", 40, "v4"))
    resolvedDirs.foreach { d =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "data", d)),
        s"dir $d referenced by a retained manifest was vacuumed early")
    }
    assert(store.current(spark).count() == 4)
  }

  test("operated GC: the runner defers the acked-horizon provider one gc " +
    "cycle (two-phase) and the state still converges across chunks") {
    val env = Changelog.envelopes(spark, sfDir).cache()
    val lsnOf = get_json_object($"value", "$.lsn").cast("long")
    val median = env.select(lsnOf.as("l")).stat.approxQuantile("l", Array(0.5), 0).head
    val src = tmp()
    env.filter(lsnOf <= median).coalesce(1).write.mode("overwrite").text(src)

    val storeDir = tmp() + "/state"; val ckpt = tmp() + "/ckpt"
    // the provider models the receive loop's flushedLsn: chunk 1 is acked
    val q1 = MergeStream.run(spark, src, storeDir, ckpt,
      gcHorizon = Some(() => median.toLong), gcEveryBatches = 1)
    q1.processAllAvailable(); q1.stop()
    val store = new ParquetTableStore(storeDir)
    // first gc cycle only RECORDS the candidate: promotion waits one cycle
    // so out-of-order chunks below the candidate can still first-deliver
    assert(store.pendingGcHorizon(spark) == median.toLong,
      "two-phase GC did not record the candidate")
    assert(store.gcHorizon(spark) == -1L,
      "candidate was promoted in the same cycle it was captured")

    // chunk 2 (> horizon) arrives: its gc cycle promotes the candidate
    env.filter(lsnOf > median).coalesce(1).write.mode("append").text(src)
    val q2 = MergeStream.run(spark, src, storeDir, ckpt,
      gcHorizon = Some(() => median.toLong), gcEveryBatches = 1)
    q2.processAllAvailable(); q2.stop()
    assert(store.gcHorizon(spark) == median.toLong, "GC did not promote")
    // GC only records the horizon; the maintenance compaction drops the
    // pre-horizon tombstones
    store.compactAll(spark)
    assert(store.snapshot(spark)
      .filter(col("deleted") && col("lsn") <= median.toLong).count() == 0,
      "pre-horizon tombstones survived GC + compaction")
    assert(currentState(new ParquetTableStore(storeDir)) == batchState(),
      "operated GC broke cross-chunk convergence")
  }

  test("two-phase GC: an out-of-order FIRST delivery below the applied " +
    "watermark is never refused — the race the applied clamp only narrows") {
    // the ADVICE race: chunks may merge out of LSN order; a later-LSN chunk
    // merging first lifts `applied` above an earlier not-yet-merged chunk,
    // so single-phase gc (clamped to applied) could record a horizon above
    // it and silently drop its first delivery. Two-phase promotion waits
    // one cycle — by then the earlier chunk (durably written before the
    // provider covered it) has been merged.
    val store = new ParquetTableStore(tmp() + "/table")
    store.merge(change("c", "b", 60, "vb")) // later-LSN chunk merges FIRST
    // receive loop has durably written BOTH chunks and acked through 60;
    // the capture happens in micro-batch epoch 1
    store.gcTwoPhase(spark, 60, epoch = 1)
    assert(store.pendingGcHorizon(spark) == 60)
    assert(store.gcHorizon(spark) == -1L,
      "candidate promoted immediately — the out-of-order window is open")
    // a CRASH-REPLAYED batch re-runs the same epoch: it was planned over
    // its pre-capture file set, so it must NOT promote its own capture
    store.gcTwoPhase(spark, 60, epoch = 1)
    assert(store.gcHorizon(spark) == -1L,
      "a replayed epoch promoted its own capture — the replay race is open")
    // single-phase at this point would have recorded 60 (applied == 60)
    // and the next merge would drop this chunk forever:
    store.merge(change("c", "a", 50, "va")) // earlier chunk, first delivery
    store.gcTwoPhase(spark, 60, epoch = 2) // a LATER batch: promote
    assert(store.gcHorizon(spark) == 60)
    assert(store.current(spark).select("pk", "content").as[(String, String)]
      .collect().toSet == Set(("a", "va"), ("b", "vb")),
      "out-of-order first delivery was refused — permanent row loss")
    // post-promotion, a REPLAY of the same pre-horizon chunk is refused
    store.merge(change("u", "a", 50, "replay"))
    assert(store.current(spark).filter(col("pk") === "a")
      .select("content").as[String].head() == "va")
    // a FRESH checkpoint rebases batch ids to 0 (below the recorded
    // capture epoch): the epoch domain resets — the capture re-arms at
    // the rebased epoch instead of stalling until ids catch up, and
    // promotes one genuine cycle later
    store.merge(change("c", "c", 100, "vc")) // applied = 100
    store.gcTwoPhase(spark, 100, epoch = 0)  // rebased stream: capture only
    assert(store.gcHorizon(spark) == 60,
      "rebased epoch promoted immediately")
    assert(store.pendingGcHorizon(spark) == 100)
    store.gcTwoPhase(spark, 100, epoch = 1)  // next rebased cycle: promote
    assert(store.gcHorizon(spark) == 100,
      "promotion stalled after a checkpoint rebase")
  }

  test("auto-split fires at most one doubling until compaction absorbs " +
    "it: an oversized OLD-modulus base cannot re-trigger") {
    val dir = tmp() + "/table"
    // threshold=1: ANY current-modulus base over a byte fires a split;
    // maxDeltas=2 so the 3rd delta to a bucket compacts it
    val store = new ParquetTableStore(dir, numBuckets = 2,
      maxDeltasPerBucket = 2, splitThresholdBytes = 1L)
    val bucketOf4 = (1 to 64).map(_.toString).toDF("pk")
      .select(col("pk"), pmod(graft.ops.VectorOps.fnv1a64(col("pk")), lit(4L))
        .cast("int").as("b"))
      .as[(String, Int)].collect().toMap // one job, not 64
    // three merges into (mod 2) bucket 0 — pks whose mod-4 bucket is 0 or
    // 2 — force a compaction, whose current-modulus base fires ONE split
    val b0 = bucketOf4.collect { case (pk, b) if b % 2 == 0 => pk }.take(3)
    b0.zipWithIndex.foreach { case (pk, i) =>
      store.merge(change("c", pk, (i + 1) * 10L, s"v$pk")) }
    assert(store.currentBuckets(spark) == 4, "first auto-split did not fire")
    // a merge touching a DESCENDANT of the oversized old-modulus base must
    // NOT re-fire: the base's bytes belong to two buckets now, and only a
    // rewrite at the current modulus may justify the next doubling. (The
    // pre-fix behavior measured the old dir and doubled again here.)
    val p2 = bucketOf4.collect { case (pk, b) if b == 2 => pk }
      .toSeq.filterNot(b0.toSet).take(2)
    store.merge(change("c", p2.head, 100L, "w1"))
    assert(store.currentBuckets(spark) == 4,
      "split re-fired off an old-modulus base before compaction absorbed it")
    // once bucket 2 compacts at the CURRENT modulus (stale migration on the
    // next merge), its own oversized base legitimately resumes the doubling
    store.merge(change("c", p2(1), 110L, "w2"))
    assert(store.currentBuckets(spark) == 8,
      "doubling did not resume after a current-modulus compaction")
    assert(store.current(spark).count() == 5)
  }

  test("post-split migration: old-modulus dirs retire within bounded " +
    "merges (one stale bucket compacted per merge)") {
    val dir = tmp() + "/table"
    val store = new ParquetTableStore(dir, numBuckets = 2,
      maxDeltasPerBucket = 8)
    val pks = (1 to 12).map(_.toString)
    pks.take(6).zipWithIndex.foreach { case (pk, i) =>
      store.merge(change("c", pk, (i + 1) * 10L, s"v$pk")) }
    store.split(spark)
    assert(store.currentBuckets(spark) == 4)
    def staleDirs(): Set[(String, Int)] = {
      val m = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val latest = try m.filter(_.getFileName.toString.startsWith("manifest-"))
        .sorted(java.util.Comparator.naturalOrder()).reduce((_, b) => b).get()
      finally m.close()
      new String(java.nio.file.Files.readAllBytes(latest)).split('\n')
        .filter(_.startsWith("dir ")).map { l =>
          val p = l.split(' '); (p(1), p(2).toInt)
        }.filter(_._2 != 4).toSet
    }
    assert(staleDirs().nonEmpty, "fixture broken: split left no stale dirs")
    // each merge migrates at least one stale bucket: with ≤4 stale buckets
    // the drain completes within 6 small merges — deterministically, not
    // "eventually when a compaction threshold happens to trip"
    pks.drop(6).zipWithIndex.foreach { case (pk, i) =>
      store.merge(change("c", pk, 100L + i * 10L, s"w$pk")) }
    assert(staleDirs().isEmpty,
      s"old-modulus dirs survived the migration drain: ${staleDirs()}")
    assert(store.current(spark).count() == 12)
  }

  test("seeded random schedule of merge/split/compactAll/gcTwoPhase/reopen " +
    "tracks an in-memory LWW model exactly") {
    // 40 random operations against a tiny-bucketed store (threshold
    // compaction + stale migration fire constantly) vs a reference model:
    // live rows must match exactly at every checkpoint; tombstones must be
    // a subset of the model's with every post-horizon tombstone retained
    // (pre-horizon ones drop lazily at whichever compaction touches them).
    // (pk, lsn) deterministically fixes op and content, so re-delivered
    // ties always carry identical values — the store's delivery contract.
    val rnd = new scala.util.Random(2024)
    val dir = tmp() + "/model"
    def open() = new ParquetTableStore(dir, numBuckets = 2, maxDeltasPerBucket = 2)
    var store = open()
    var model = Map.empty[String, (Long, Boolean, String)]
    var gcH = -1L; var pending = -1L; var pendingEpoch = -1L
    var applied = -1L; var splits = 0
    val pks = (1 to 30).map(_.toString)
    def opOf(pk: String, lsn: Long): String =
      if (math.abs((pk + ":" + lsn).hashCode) % 4 == 0) "d" else "u"
    def contentOf(pk: String, lsn: Long): String = s"c$pk-$lsn"
    def changesDf(rows: Seq[(String, Long)]): DataFrame =
      rows.map { case (pk, lsn) =>
        (opOf(pk, lsn), "public", "documents", pk, lsn.toString,
          if (opOf(pk, lsn) == "d") null else contentOf(pk, lsn))
      }.toDF("op", "schema", "table", "primary_key", "lsn", "c")
        .select(col("op"), col("schema"), col("table"), col("primary_key"),
          col("lsn"),
          when(col("op") =!= "d", map(lit("content"), col("c"))).as("after"))
    def check(step: Int): Unit = {
      val snap = store.snapshot(spark)
        .select("pk", "lsn", "deleted", "content")
        .as[(String, Long, Boolean, Option[String])].collect()
      val gotLive = snap.filterNot(_._3).map(r => (r._1, r._2, r._4)).toSet
      val wantLive = model.collect { case (pk, (l, false, c)) =>
        (pk, l, Option(c)) }.toSet
      assert(gotLive == wantLive, s"step $step live rows diverged: " +
        s"missing=${(wantLive -- gotLive).take(3)} extra=${(gotLive -- wantLive).take(3)}")
      val gotTomb = snap.filter(_._3).map(r => (r._1, r._2)).toSet
      val wantTomb = model.collect { case (pk, (l, true, _)) => (pk, l) }.toSet
      assert(gotTomb.subsetOf(wantTomb),
        s"step $step phantom tombstones: ${(gotTomb -- wantTomb).take(3)}")
      val mustKeep = wantTomb.filter(_._2 > gcH)
      assert(mustKeep.subsetOf(gotTomb),
        s"step $step post-horizon tombstones dropped: ${(mustKeep -- gotTomb).take(3)}")
      assert(store.currentBuckets(spark) == 2 * (1 << splits),
        s"step $step bucket count diverged")
    }
    for (step <- 1 to 40) {
      rnd.nextInt(10) match {
        case k if k <= 5 =>
          val rows = Seq.fill(1 + rnd.nextInt(6))(
            (pks(rnd.nextInt(pks.size)), 1L + rnd.nextInt(500)))
          store.merge(changesDf(rows))
          val latest = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
          val accepted = latest.filter(_._2 > gcH)
          accepted.foreach { case (pk, lsn) =>
            applied = math.max(applied, lsn)
            model.get(pk) match {
              case Some((l, _, _)) if l >= lsn => ()
              case _ => model += pk ->
                (lsn, opOf(pk, lsn) == "d",
                  if (opOf(pk, lsn) == "d") null else contentOf(pk, lsn))
            }
          }
        case 6 =>
          store.split(spark); splits += 1
        case 7 =>
          store.compactAll(spark)
          model = model.filter { case (_, (l, del, _)) => !(del && l <= gcH) }
        case 8 =>
          val h = rnd.nextInt(500).toLong
          store.gcTwoPhase(spark, h, epoch = step.toLong)
          if (pendingEpoch >= 0 && step > pendingEpoch)
            gcH = math.max(gcH, math.min(pending, applied))
          val np = math.max(pending, h)
          if (np > pending || pendingEpoch < 0) pendingEpoch = step.toLong
          pending = np
        case _ =>
          store = open() // restart: all state must come back from disk
      }
      if (step % 8 == 0 || step == 40) check(step)
    }
  }

  test("kept dir scans never serve stale state: one store instance through " +
    "compactions, a split, a two-phase GC and vacuums reads what a fresh " +
    "instance reads at every step") {
    val dir = tmp() + "/kept"
    def open() = new ParquetTableStore(dir, numBuckets = 4,
      maxDeltasPerBucket = 1, keepManifests = 1)
    val store = open()
    def rows(s: ParquetTableStore) = s.snapshot(spark)
      .select("pk", "lsn", "deleted", "content")
      .as[(String, Long, Boolean, Option[String])].collect().sorted.toSeq
    def changes(lsn: Long, pks: Seq[Int], deletes: Set[Int] = Set.empty) =
      pks.map(pk => change(if (deletes(pk)) "d" else "c", pk.toString, lsn, s"v$pk-$lsn"))
        .reduce(_.unionByName(_))
    var everKept = Set.empty[String]
    val steps: Seq[(String, () => Unit)] = Seq(
      "merge" -> (() => store.merge(changes(10, 1 to 20))),
      "compacting merge" -> (() => store.merge(changes(20, 1 to 10, deletes = Set(2, 3)))),
      "compacting merge" -> (() => store.merge(changes(30, 11 to 20, deletes = Set(12)))),
      "split" -> (() => store.split(spark)),
      "merge after split" -> (() => store.merge(changes(40, Seq(1, 5, 11, 15)))),
      "gc capture" -> (() => store.gcTwoPhase(spark, 35L, epoch = 1L)),
      "merge" -> (() => store.merge(changes(50, 1 to 20 by 3, deletes = Set(4)))),
      "gc promotion" -> (() => store.gcTwoPhase(spark, 45L, epoch = 2L)),
      "merge over the horizon" -> (() => store.merge(changes(60, 1 to 20 by 2))),
      "compactAll" -> (() => store.compactAll(spark)),
      "merge" -> (() => store.merge(changes(70, 2 to 20 by 2))))
    steps.zipWithIndex.foreach { case ((name, step), i) =>
      step()
      assert(rows(store) == rows(open()), s"step $i ($name): kept scans diverged")
      val kept = store.keptDirs
      val missing = kept.filterNot(d => Files.isDirectory(java.nio.file.Paths.get(dir, "data", d)))
      assert(missing.isEmpty, s"step $i ($name): kept dirs gone from disk: $missing")
      everKept ++= kept
    }
    assert(store.gcHorizon(spark) == 35L) // the epoch-1 capture, promoted
    // the kept scans were used and vacuumed dirs left them
    assert(everKept.size > store.keptDirs.size && store.keptDirs.nonEmpty, everKept)
  }

  test("bucket-count drift under an existing store is refused") {
    val dir = tmp() + "/table"
    new ParquetTableStore(dir, numBuckets = 4).merge(change("c", "1", 10, "v"))
    val err = intercept[IllegalArgumentException] {
      new ParquetTableStore(dir, numBuckets = 8).current(spark).count()
    }
    assert(err.getMessage.contains("bucket"), err.getMessage)
  }

  test("the store's physical buckets equal the registered audit's " +
    "fnv1a64 bucket function") {
    // q_merge_amplification (queries/GroupX.scala) reports
    // pmod(fnv1a64(pk), 32) as the store's bucket — since round 8 that IS
    // the store's layout, so the audit's touched-bucket ids must match the
    // partition dirs the store actually writes
    val dir = tmp() + "/table"
    val store = new ParquetTableStore(dir) // default 32 buckets
    val pks = (1 to 40).map(_.toString)
    pks.zipWithIndex.foreach { case (pk, i) =>
      store.merge(change("c", pk, (i + 1) * 10L, s"v$pk")) }
    val auditBuckets = pks.toDF("pk")
      .select(pmod(graft.ops.VectorOps.fnv1a64(col("pk")), lit(32L))
        .cast("int").as("b"))
      .as[Int].collect().toSet
    val physical = dataFiles(dir).keys
      .flatMap(_.split('/').find(_.startsWith("bucket=")))
      .map(_.stripPrefix("bucket=").toInt).toSet
    assert(physical == auditBuckets,
      s"store layout $physical != audit bucket function $auditBuckets")
  }

  test("fixture precondition: changelog pks are pure ASCII, so the " +
    "q_merge_amplification char-fold oracle replays the store's byte fold") {
    // the DuckDB audit folds per character codepoint while the store folds
    // UTF-8 bytes — identical iff every pk is ASCII; this pins the fixture
    // side of that contract so a non-ASCII pk regeneration fails loudly
    val nonAscii = Changelog.changes(spark, sfDir)
      .filter(col("primary_key") =!= "" &&
        col("primary_key") =!= regexp_replace(col("primary_key"),
          "[^\\x00-\\x7F]", ""))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii non-ASCII pks: the char-fold oracle no longer replays " +
        "the store's byte-fold buckets")
  }

  test("split doubles the bucket count manifest-only: zero data writes, " +
    "state identical to an unsplit store, old data stays addressable") {
    val dirA = tmp() + "/split"; val dirB = tmp() + "/plain"
    val a = new ParquetTableStore(dirA, numBuckets = 4, maxDeltasPerBucket = 2)
    val b = new ParquetTableStore(dirB, numBuckets = 4, maxDeltasPerBucket = 2)
    val pks = (1 to 24).map(_.toString)
    // first half into both stores
    pks.take(12).zipWithIndex.foreach { case (pk, i) =>
      a.merge(change("c", pk, (i + 1) * 10L, s"v$pk"))
      b.merge(change("c", pk, (i + 1) * 10L, s"v$pk")) }
    val before = dataFiles(dirA)
    a.split(spark)
    assert(a.currentBuckets(spark) == 8)
    // a split is a manifest commit only: every data file byte-stable
    assert(dataFiles(dirA) == before, "split rewrote data files")
    // reads against the split store see the identical state
    def state(s: ParquetTableStore) =
      s.current(spark).select("pk", "content").as[(String, String)].collect().toSet
    assert(state(a) == state(b))
    // post-split writes (new modulus) + updates to OLD rows + deletes
    // still converge with the unsplit twin — old-modulus dirs remain
    // addressable and compaction migrates them to the new modulus
    pks.drop(12).zipWithIndex.foreach { case (pk, i) =>
      a.merge(change("c", pk, 200L + i * 10L, s"w$pk"))
      b.merge(change("c", pk, 200L + i * 10L, s"w$pk")) }
    a.merge(change("u", "3", 500L, "upd")); b.merge(change("u", "3", 500L, "upd"))
    a.merge(change("d", "5", 510L, null)); b.merge(change("d", "5", 510L, null))
    assert(state(a) == state(b), "split store diverged from the unsplit twin")
    // a full compaction retires every old-modulus dir; state is preserved
    a.compactAll(spark)
    assert(state(a) == state(b), "compaction after split corrupted state")
    // reopening the split store with the ORIGINAL seed count works (the
    // manifest's doubled count is authoritative) ...
    val reopened = new ParquetTableStore(dirA, numBuckets = 4)
    assert(reopened.currentBuckets(spark) == 8)
    assert(state(reopened) == state(b))
    // ... while a count the doubling can never reach is refused
    val err = intercept[IllegalArgumentException] {
      new ParquetTableStore(dirA, numBuckets = 3).current(spark).count()
    }
    assert(err.getMessage.contains("bucket"), err.getMessage)
  }

  test("auto-split: a bucket's base outgrowing the threshold doubles the " +
    "bucket count on the next merge") {
    val dir = tmp() + "/table"
    // 1-byte threshold: ANY base triggers; maxDeltas=1 forces compaction
    val store = new ParquetTableStore(dir, numBuckets = 2,
      maxDeltasPerBucket = 1, splitThresholdBytes = 1L)
    (1 to 8).foreach(i => store.merge(change("c", i.toString, i * 10L, s"v$i")))
    assert(store.currentBuckets(spark) > 2, "auto-split never fired")
    assert(store.current(spark).count() == 8)
  }

  // ---- round-10: throttle-invariant promotion gate + segment retention --

  /** One self-contained binary segment (Relation + one committed change)
    * in the tap's naming scheme; returns the change's commit LSN. */
  private def writeSegment(dir: java.nio.file.Path, idx: Int, lsn: Long,
                           op: String, pk: String, content: String): Unit = {
    import graft.sources.PgOutputWire
    val rel = PgOutputWire.relation(1, "public", "documents",
      Seq("id", "content"))
    val data = op match {
      case "c" => PgOutputWire.insert(1,
        PgOutputWire.tupleData(Seq(Some(pk), Some(content))))
      case "d" => PgOutputWire.delete(1,
        Some(PgOutputWire.tupleData(Seq(Some(pk), None))))
    }
    val frames = Seq(
      (lsn, PgOutputWire.begin(lsn, idx)),
      (lsn, rel),
      (lsn, data),
      (lsn, PgOutputWire.commit(lsn)))
    val bytes = PgOutputWire.frame(frames)
    val tmpF = dir.resolve(f".segment-$idx%08d.bin.tmp")
    java.nio.file.Files.write(tmpF, bytes)
    java.nio.file.Files.move(tmpF, dir.resolve(f"segment-$idx%08d.bin"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("throttle invariant: a backlog longer than one gc cycle defers " +
    "promotion — a late-merging old segment's FIRST delivery is never " +
    "refused") {
    import graft.stream.SegmentLsnIndex
    val segDir = java.nio.file.Files.createTempDirectory("graft-gate-segs")
    // three single-change segments, LSN-ordered like the tap writes them;
    // the provider has durably written ALL THREE and acked through 30
    writeSegment(segDir, 0, 10, "c", "a", "va")
    writeSegment(segDir, 1, 20, "c", "b", "vb")
    writeSegment(segDir, 2, 30, "c", "c", "vc")
    val index = new SegmentLsnIndex(segDir.toString,
      spark.sparkContext.hadoopConfiguration, "pgoutput")
    val store = new ParquetTableStore(tmp() + "/table")
    def gateSafe(candidate: Long): Boolean =
      candidate < 0 || index.requiredOfferFor(candidate) <= store.offeredLsn

    // throttled stream has only consumed segment 0 when the gc timer fires
    store.merge(change("c", "a", 10, "va"))
    store.gcTwoPhase(spark, 30, epoch = 0, promotionSafe = gateSafe(
      store.pendingGcHorizon(spark))) // capture cycle (no prior candidate)
    assert(store.pendingGcHorizon(spark) == 30)
    // next cycle: a LATER epoch — the pre-gate design would promote here
    // (applied=10 < 30 clamps, but after more merges the clamp lifts);
    // the gate sees segments 1..2 (content ≤ 30) unoffered and withholds
    assert(!gateSafe(store.pendingGcHorizon(spark)),
      "gate passed with two covered segments still unmerged")
    store.gcTwoPhase(spark, 30, epoch = 1,
      promotionSafe = gateSafe(store.pendingGcHorizon(spark)))
    assert(store.gcHorizon(spark) == -1L,
      "promotion outran the throttled backlog — the refusal race is open")
    // the backlog drains: segment 1's content (lsn 20 ≤ candidate) must
    // land as a FIRST delivery, not a refused replay
    store.merge(change("c", "b", 20, "vb"))
    store.merge(change("c", "c", 30, "vc"))
    assert(gateSafe(store.pendingGcHorizon(spark)),
      "gate still blocked after the backlog fully merged")
    store.gcTwoPhase(spark, 30, epoch = 2,
      promotionSafe = gateSafe(store.pendingGcHorizon(spark)))
    assert(store.gcHorizon(spark) == 30, "promotion never happened")
    assert(store.current(spark).select("pk", "content")
      .as[(String, String)].collect().toSet ==
      Set(("a", "va"), ("b", "vb"), ("c", "vc")),
      "a throttled first delivery was refused — permanent row loss")
    // post-promotion, pre-horizon replays ARE refused
    store.merge(change("u", "b", 20, "replay"))
    assert(store.current(spark).filter(col("pk") === "b")
      .select("content").as[String].head() == "vb")
  }

  test("segment retention: files below the promoted horizon disappear on " +
    "the gc timer, and a checkpointed restart over the retired prefix " +
    "still converges") {
    val segDir = java.nio.file.Files.createTempDirectory("graft-ret-segs")
    val storeDir = tmp() + "/state"; val ckpt = tmp() + "/ckpt"
    (0 until 8).foreach(i =>
      writeSegment(segDir, i, 10L * (i + 1), "c", s"pk$i", s"v$i"))
    // one segment per trigger, gc every batch: capture on the first tick,
    // promote on a later one, retire below the promoted horizon
    val q1 = MergeStream.run(spark, segDir.toString, storeDir, ckpt,
      attrCols = Seq("content"),
      gcHorizon = Some(() => 80L), gcEveryBatches = 1,
      wireFormat = "pgoutput", retireSegments = true, maxFilesPerTrigger = 1)
    q1.processAllAvailable(); q1.stop()
    val store = new ParquetTableStore(storeDir, attrCols = Seq("content"))
    assert(store.gcHorizon(spark) == 80L, "horizon never promoted")
    val remaining = {
      val l = java.nio.file.Files.list(segDir)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("segment-")).toSet
      } finally l.close()
    }
    assert(remaining.isEmpty,
      s"segments below the promoted horizon survived retention: $remaining")
    assert(java.nio.file.Files.exists(
      segDir.resolve(graft.stream.SegmentRetention.MarkerName)),
      "retention marker missing")
    assert(store.current(spark).count() == 8,
      "retention lost rows")

    // restart from checkpoint across the retired prefix, new traffic
    // lands: two inserts (retirable under the new horizon 100) and one
    // delete ABOVE it (must survive retention)
    (8 until 10).foreach(i =>
      writeSegment(segDir, i, 10L * (i + 1), "c", s"pk$i", s"v$i"))
    writeSegment(segDir, 10, 110L, "d", "pk0", null)
    val q2 = MergeStream.run(spark, segDir.toString, storeDir, ckpt,
      attrCols = Seq("content"),
      gcHorizon = Some(() => 100L), gcEveryBatches = 1,
      wireFormat = "pgoutput", retireSegments = true, maxFilesPerTrigger = 1)
    q2.processAllAvailable(); q2.stop()
    assert(store.current(spark).select("pk", "content")
      .as[(String, String)].collect().toSet ==
      ((1 until 10).map(i => (s"pk$i", s"v$i")).toSet),
      "restart over a retired prefix diverged")
    assert(store.gcHorizon(spark) == 100L)
    val remaining2 = {
      val l = java.nio.file.Files.list(segDir)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("segment-")).toSet
      } finally l.close()
    }
    assert(remaining2 == Set("segment-00000010.bin"),
      s"retention under horizon 100 left: $remaining2")

    // a FRESH checkpoint over the same retired directory also converges:
    // the retired range replays EMPTY (its content is at or below the
    // refusal horizon by construction), the live segment replays normally
    val store2dir = tmp() + "/state2"
    val q3 = MergeStream.run(spark, segDir.toString, store2dir,
      tmp() + "/ckpt3", attrCols = Seq("content"),
      wireFormat = "pgoutput", maxFilesPerTrigger = 1)
    q3.processAllAvailable(); q3.stop()
    val fresh = new ParquetTableStore(store2dir, attrCols = Seq("content"))
    assert(fresh.current(spark).count() == 0)
    assert(fresh.snapshot(spark).select("pk", "deleted")
      .as[(String, Boolean)].collect().toSet == Set(("pk0", true)),
      "fresh reader over a retired prefix did not replay the live tail")
  }

  test("retention marker crash window: a kill between delete(marker) and " +
    "rename(tmp, marker) loses neither the retired count nor live rows") {
    import graft.stream.{SegmentLsnIndex, SegmentRetention}
    val hconf = spark.sparkContext.hadoopConfiguration
    val segDir = java.nio.file.Files.createTempDirectory("graft-crash-segs")
    val fs = new org.apache.hadoop.fs.Path(segDir.toString)
      .getFileSystem(hconf)

    // cycle 1 committed normally: segments 0..1 retired, files gone
    (0 until 4).foreach(i =>
      writeSegment(segDir, i, 10L * (i + 1), "c", s"pk$i", s"v$i"))
    val retention = new SegmentRetention(segDir.toString, hconf,
      new SegmentLsnIndex(segDir.toString, hconf, "pgoutput"))
    assert(retention.retire(20L) == 2)
    assert(SegmentRetention.readMarker(fs, segDir.toString) ==
      ((2L, "segment-00000001.bin")))

    // cycle 2 crashes EXACTLY between delete(marker) and rename(tmp,
    // marker): reproduce that instant byte-for-byte — the tmp holds the
    // new state (complete, closed), the old marker is gone, cycle 2's
    // files are NOT yet deleted (deletes follow the commit)
    val marker = new org.apache.hadoop.fs.Path(segDir.toString,
      SegmentRetention.MarkerName)
    val tmpP = new org.apache.hadoop.fs.Path(segDir.toString,
      ".%s.tmp".format(SegmentRetention.MarkerName))
    val out = fs.create(tmpP, true)
    out.write("retired 4 segment-00000003.bin\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(fs.delete(marker, false))

    // reader-side recovery: the committed state comes back from the tmp
    // (the pre-fix code read (0, "") here — with segments 0..1 already
    // deleted, the count-based offset domain shifted by 2 and a restored
    // checkpoint silently skipped two live segments)
    assert(SegmentRetention.readMarker(fs, segDir.toString) ==
      ((4L, "segment-00000003.bin")),
      "crash window lost the retired count")

    // end-to-end: a fresh reader over the crashed directory + one live
    // segment replays EXACTLY the live tail at the right offsets
    writeSegment(segDir, 4, 50L, "c", "pk4", "v4")
    val storeDir = tmp() + "/state"
    val q = MergeStream.run(spark, segDir.toString, storeDir,
      tmp() + "/ckpt", attrCols = Seq("content"),
      wireFormat = "pgoutput", maxFilesPerTrigger = 1)
    q.processAllAvailable(); q.stop()
    val store = new ParquetTableStore(storeDir, attrCols = Seq("content"))
    assert(store.current(spark).select("pk", "content")
      .as[(String, String)].collect().toSet == Set(("pk4", "v4")),
      "restart over the crash window diverged")

    // writer-side healing: the next retire() re-commits the tmp as the
    // marker before writing its own cycle (so a second crash during the
    // tmp overwrite cannot destroy the only copy of the committed state)
    val retention2 = new SegmentRetention(segDir.toString, hconf,
      new SegmentLsnIndex(segDir.toString, hconf, "pgoutput"))
    retention2.retire(-1L) // nothing retirable: heal only
    assert(fs.exists(marker), "healMarker never promoted the tmp")
    assert(SegmentRetention.readMarker(fs, segDir.toString) ==
      ((4L, "segment-00000003.bin")))
  }
}
