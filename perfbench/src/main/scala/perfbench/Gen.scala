package perfbench

import graft.sources.{PgOutputWire, WalSegmentTap}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** A rendered change log: files in commit (= name) order, with the number
  * of changes and the highest commit LSN each holds. */
final case class StagedLog(files: IndexedSeq[Path], changes: IndexedSeq[Int],
                           maxLsn: IndexedSeq[Long])

/** Seeded synthetic text: a per-seed vocabulary sampled with a skewed
  * rank distribution, so term frequencies look like prose. */
final class TextGen(rnd: SplittableRandom, vocab: Int = 4000) {
  private val words: Array[String] = Array.fill(vocab) {
    val n = 2 + rnd.nextInt(8)
    new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
  }
  def text(target: Int): String = {
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb += ' '
      val u = rnd.nextDouble()
      sb ++= words((u * u * u * vocab).toInt)
    }
    sb.toString
  }
}

/** The vector_replay input: JSON envelopes in the `Changelog.envelopes`
  * wire shape, following `Changelog.flat`'s edge-case rules on a seeded
  * doc-id range (update on %3, null-after update on %41, delete on %7,
  * blind delete on %43, unmapped table on %17, empty or null text on
  * %37 in {0,1,2}, created_at absent on %5). Each document's content is
  * drawn, seeded, from `texts` (the sf0.1 documents, about 300 chars). A
  * document's later changes trail its insert by `lag` documents, so most
  * keys appear once or twice in a batch window. LSNs are assigned in
  * emission (commit) order. */
object EnvelopeGen {
  private val authors = Array("web", "news", "forum", "wiki", "blog")

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":\"" + graft.util.Json.escape(v) + "\"" }
      .mkString("{", ",", "}")

  def render(seed: Long, dir: Path, fileSizes: Seq[Int],
             texts: IndexedSeq[String], lag: Int): StagedLog = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val base = 1000L + rnd.nextInt(1000000)
    val need = fileSizes.sum
    // (slot, branch, line-without-lsn); slots order the emission
    val pending = mutable.PriorityQueue.empty[(Long, Int, Long, String)](
      Ordering.by[(Long, Int, Long, String), (Long, Int, Long)](x => (x._1, x._2, x._3)).reverse)
    val out = mutable.ArrayBuffer[String]()
    var k = 0L
    var lsn = 16L * (1 + rnd.nextInt(1 << 20))
    def emitUpTo(slot: Long): Unit =
      while (pending.nonEmpty && pending.head._1 <= slot && out.size < need) {
        val (_, _, _, body) = pending.dequeue()
        lsn += 1 + rnd.nextInt(64)
        out += body + ",\"lsn\":\"" + lsn + "\"}"
      }
    while (out.size < need) {
      val id = base + k
      val m = id % 37
      val pk = id.toString
      val text = texts(rnd.nextInt(texts.size))
      val title = if (m == 0) Some("") else if (m == 1) None else Some(s"Doc $id")
      def content(t: String) = if (m == 0) None else if (m == 2) Some("") else Some(t)
      val created = if (id % 5 == 0) None else Some(f"2025-01-${id % 28 + 1}%02d")
      val author = authors((id % authors.length).toInt)
      def after(t: String) = obj(Seq("id" -> Some(pk), "title" -> title,
        "content" -> content(t), "created_at" -> created, "author" -> Some(author))
        .collect { case (c, Some(v)) => c -> v })
      def head(op: String, table: String, key: String) =
        s"""{"op":"$op","schema":"public","table":"$table","primary_key":"$key""""
      def add(branch: Int, body: String): Unit =
        pending.enqueue((k + (branch - 1).toLong * lag, branch, k, body))
      add(1, head("c", "documents", pk) + ",\"after\":" + after(text))
      if (id % 3 == 0) add(2, head("u", "documents", pk) + ",\"after\":" +
        after(text.toUpperCase(java.util.Locale.ROOT)))
      if (id % 41 == 0) add(3, head("u", "documents", pk))
      if (id % 7 == 0) add(4, head("d", "documents", pk) +
        ",\"before\":" + obj(Seq("id" -> pk)))
      if (id % 43 == 0) add(5, head("d", "documents", ""))
      if (id % 17 == 0) add(6, head("c", "other", pk) + ",\"after\":" +
        obj(Seq("id" -> pk, "title" -> "X", "content" -> "Y")))
      emitUpTo(k)
      k += 1
    }
    // files carry distinct, increasing modification times: the file
    // source admits files oldest-first, so this fixes commit order
    val t0 = System.currentTimeMillis() - 3600L * 1000
    val ends = fileSizes.scanLeft(0)(_ + _)
    val parts = fileSizes.indices.map(i => out.slice(ends(i), ends(i + 1)))
    val files = parts.zipWithIndex.map { case (lines, i) =>
      val p = dir.resolve(f"part-$i%08d.json")
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      p.toFile.setLastModified(t0 + i * 10L)
      p
    }
    def lsnOf(l: String) = l.substring(l.lastIndexOf(":\"") + 2, l.length - 2).toLong
    StagedLog(files, fileSizes.toIndexedSeq, parts.map(_.map(lsnOf).max))
  }
}

/** The merge_churn input: an update-heavy log over a small Zipf-skewed set
  * of hot keys, as binary pgoutput (`PgOutputWire`) landed in segment files
  * by `WalSegmentTap.write`. Each segment is self-contained (it leads with
  * the Relation message) and holds whole transactions; a key appears at
  * most once per transaction, so last-writer-wins by commit LSN is exact.
  * Deletes carry the key as the old tuple and leave tombstones. */
object WalGen {
  val cols: Seq[String] = Seq("id", "title", "content", "created_at", "author")
  type Row = Map[String, String]

  final case class Result(log: StagedLog, live: Map[String, Row])

  def render(seed: Long, dir: Path, nSegments: Int, txPerSegment: Int,
             changesPerTx: Int, keys: Int = 3000, zipf: Double = 1.1): Result = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new TextGen(rnd.split())
    val cdf = {
      val w = (1 to keys).map(r => 1.0 / math.pow(r, zipf))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    val perm = (0 until keys).toArray
    for (i <- keys - 1 to 1 by -1) { // seeded key-to-rank assignment
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    def key(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(math.min(if (i >= 0) i else -i - 1, keys - 1))
    }
    val live = mutable.Map[String, Row]()
    val tap = new WalSegmentTap(dir)
    val relId = 16384
    var lsn = 0x1000000L + 256L * rnd.nextInt(1 << 16)
    var xid = 700 + rnd.nextInt(1000)
    val files = mutable.ArrayBuffer[Path]()
    val maxLsn = mutable.ArrayBuffer[Long]()
    for (_ <- 0 until nSegments) {
      val frames = mutable.ArrayBuffer[(Long, Array[Byte])](
        lsn -> PgOutputWire.relation(relId, "public", "documents", cols))
      for (_ <- 0 until txPerSegment) {
        lsn += 64 + rnd.nextInt(64)
        xid += 1
        frames += lsn -> PgOutputWire.begin(lsn, xid)
        val ks = mutable.LinkedHashSet[Int]()
        while (ks.size < changesPerTx) ks += key()
        ks.foreach { k =>
          val pk = k.toString
          if (live.contains(pk) && rnd.nextInt(4) == 0) {
            frames += lsn -> PgOutputWire.delete(relId, Some(
              PgOutputWire.tupleData(Some(pk) +: Seq.fill(cols.size - 1)(None))))
            live -= pk
          } else {
            val row: Row = Map("id" -> pk, "title" -> s"T$pk-$lsn",
              "content" -> texts.text(80 + rnd.nextInt(80)),
              "created_at" -> f"2025-02-${rnd.nextInt(28) + 1}%02d",
              "author" -> s"a${rnd.nextInt(50)}")
            val tuple = PgOutputWire.tupleData(cols.map(c => row.get(c)))
            frames += lsn -> (if (live.contains(pk)) PgOutputWire.update(relId, tuple)
                              else PgOutputWire.insert(relId, tuple))
            live(pk) = row
          }
        }
        frames += lsn -> PgOutputWire.commit(lsn)
      }
      files += tap.write(frames.toSeq).get
      maxLsn += lsn
    }
    Result(StagedLog(files.toIndexedSeq,
      IndexedSeq.fill(nSegments)(txPerSegment * changesPerTx), maxLsn.toIndexedSeq),
      live.toMap)
  }
}
