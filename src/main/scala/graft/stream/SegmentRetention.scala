package graft.stream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Marker protocol shared by [[SegmentRetention]] (the writer) and
  * `PgOutputReplaySource` (the reader): `_retired.txt` in the segment
  * directory records how many segments have been retired and the highest
  * retired file NAME. Retirement is strictly a NAME-ORDER PREFIX of the
  * directory (the tap writes LSN-monotone segments with zero-padded
  * monotone names, so name order = LSN order), which is what lets the
  * replay source keep its count-based offsets stable across deletions:
  * offset N still means "the first N segments ever created", and a
  * restored offset that points into the retired prefix simply replays
  * those segments as EMPTY — semantically exact, because retirement only
  * happens below the merge store's LIVE GC horizon, whose content
  * [[ParquetTableStore.merge]] refuses as a replay anyway.
  *
  * Crash discipline: the marker is written (tmp + atomic rename) BEFORE
  * the files it covers are deleted. A crash between the two leaves
  * already-counted stragglers on disk; the reader treats any file at or
  * below the marker's highest name as retired (never double-counted), and
  * the next retirement cycle re-deletes them. The rename itself is
  * delete-then-rename (HDFS rename does not overwrite), so the
  * delete→rename instant is its own crash window: both [[SegmentRetention
  * .readMarker]] (reader fallback) and [[SegmentRetention.healMarker]]
  * (writer re-commit) recover the committed state from the tmp file,
  * which is always fully written and closed before the old marker is
  * deleted.
  */
object SegmentRetention {
  val MarkerName = "_retired.txt"
  private[stream] val TmpMarkerName = s".$MarkerName.tmp"

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 8192, false)
      new String(bytes.toByteArray, UTF_8)
    } finally in.close()
  }

  private def parseMarker(text: String): Option[(Long, String)] =
    text.trim.split(' ') match {
      case Array("retired", n, name) =>
        try Some((n.toLong, name)) catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** (count, highestRetiredName) from the marker, or (0, "") for a
    * never-retired directory.
    *
    * Crash-window recovery: [[SegmentRetention.retire]] commits via
    * tmp-write → delete(marker) → rename(tmp, marker). A crash between
    * the delete and the rename leaves NO marker while PRIOR cycles'
    * segment files are already gone — reading (0, "") there would shift
    * the replay source's count-based offset domain by the retired count
    * and a restored checkpoint would silently skip live segments. The
    * tmp file is fully written and closed BEFORE the delete, so when the
    * marker is missing but a tmp exists, the tmp IS the committed state.
    * An unparseable tmp can only be the FIRST cycle's torn write (every
    * later cycle still has the old marker while its tmp is open), and
    * first-cycle state is exactly (0, ""). */
  def readMarker(fs: FileSystem, dir: String): (Long, String) = {
    val p = new Path(dir, MarkerName)
    if (fs.exists(p)) {
      // single read: a second read for the error message could race a
      // concurrent retire cycle's delete→rename and turn the intended
      // diagnostic into a confusing FileNotFoundException
      val raw = readFile(fs, p)
      parseMarker(raw).getOrElse(sys.error(s"bad retirement marker: ${raw.trim}"))
    }
    else {
      val tmp = new Path(dir, TmpMarkerName)
      if (!fs.exists(tmp)) (0L, "")
      else parseMarker(readFile(fs, tmp)).getOrElse((0L, ""))
    }
  }

  /** Writer-side healing of the same crash window: if the marker is
    * missing but a complete tmp exists, promote the tmp to the marker
    * BEFORE the caller overwrites the tmp for its own cycle (otherwise a
    * second crash during that overwrite would destroy the only copy of
    * the committed state). A torn tmp (first cycle only, see
    * [[readMarker]]) is discarded. */
  private[stream] def healMarker(fs: FileSystem, dir: String): Unit = {
    val marker = new Path(dir, MarkerName)
    val tmp = new Path(dir, TmpMarkerName)
    if (!fs.exists(marker) && fs.exists(tmp)) {
      if (parseMarker(readFile(fs, tmp)).isDefined) {
        if (!fs.rename(tmp, marker))
          throw new java.io.IOException(
            s"retention: could not heal marker in $dir")
      } else fs.delete(tmp, false)
    }
  }
}

/** Per-file (minLsn, maxLsn) index over a change-segment directory, with
  * an immutability-keyed cache so each file is scanned once per process
  * lifetime (segments appear by atomic rename and are never appended to).
  *
  * `wireFormat` "pgoutput": binary `PgOutputWire.frame` layout —
  * [lsn:8][len:4][payload]; the scan reads the 12-byte headers and SEEKS
  * past payloads, so indexing costs header-pages only. "json": envelope
  * lines in RowChange shape; the scan parses each line's `lsn` field.
  */
final class SegmentLsnIndex(dir: String, conf: Configuration,
                            wireFormat: String) {

  private val cache = mutable.HashMap.empty[String, (Long, Long)]

  private def fs: FileSystem = new Path(dir).getFileSystem(conf)

  /** Name-sorted visible files with their (minLsn, maxLsn); files with no
    * parseable LSN at all (empty/foreign) index as (Long.Max, Long.Min) —
    * never retirable, never required for the offer gate. */
  def listIndexed(): Seq[(org.apache.hadoop.fs.FileStatus, (Long, Long))] = {
    val f = fs
    val p = new Path(dir)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).toSeq.filter(_.isFile)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(s => (s, cache.getOrElseUpdate(s.getPath.getName, scan(f, s))))
  }

  private def scan(f: FileSystem,
                   st: org.apache.hadoop.fs.FileStatus): (Long, Long) =
    if (wireFormat == "pgoutput") scanBinary(f, st) else scanJson(f, st)

  private def scanBinary(f: FileSystem,
                         st: org.apache.hadoop.fs.FileStatus): (Long, Long) = {
    val in = f.open(st.getPath)
    try {
      val len = st.getLen
      var pos = 0L
      var min = Long.MaxValue
      var max = Long.MinValue
      while (pos + 12 <= len) {
        in.seek(pos)
        val lsn = in.readLong()
        val plen = in.readInt()
        if (plen < 0 || pos + 12 + plen > len)
          sys.error(s"torn segment frame in ${st.getPath} at $pos")
        if (lsn < min) min = lsn
        if (lsn > max) max = lsn
        pos += 12 + plen
      }
      (min, max)
    } finally in.close()
  }

  private val JsonLsn = """"lsn"\s*:\s*"?(\d+)"?""".r

  private def scanJson(f: FileSystem,
                       st: org.apache.hadoop.fs.FileStatus): (Long, Long) = {
    val in = f.open(st.getPath)
    val lines = new java.io.BufferedReader(new java.io.InputStreamReader(in, UTF_8))
    try {
      var min = Long.MaxValue
      var max = Long.MinValue
      var line = lines.readLine()
      while (line != null) {
        JsonLsn.findFirstMatchIn(line).foreach { m =>
          val lsn = m.group(1).toLong
          if (lsn < min) min = lsn
          if (lsn > max) max = lsn
        }
        line = lines.readLine()
      }
      (min, max)
    } finally lines.close()
  }

  /** The offer the promotion gate must have seen before `candidate` may
    * become the live refusal horizon: the max maxLsn over files holding
    * ANY content at or below the candidate (minLsn ≤ candidate — a
    * straddling segment counts in full). −1 when no such file exists.
    * Sound under the tap's contract that files are produced AND consumed
    * in LSN order (zero-padded names for the replay source; mtime order
    * for Spark's file source): `offered ≥` this value then implies every
    * such file has already been through [[ParquetTableStore.merge]]. */
  def requiredOfferFor(candidate: Long): Long = {
    val covered = listIndexed().collect {
      case (_, (min, max)) if min <= candidate => max
    }
    if (covered.isEmpty) -1L else covered.max
  }
}

/** Retires (deletes) WAL segment files whose content is wholly at or below
  * the merge store's LIVE GC horizon — the last unbounded-growth path in
  * the always-on topology. Run on the same timer as
  * [[ParquetTableStore.gcTwoPhase]], with the ALREADY-PROMOTED horizon:
  * promotion itself guarantees every such segment has been offered to the
  * merge and would be refused on any replay, so deletion can never lose a
  * row. Only the `graft-pgoutput` replay source may read a retired
  * directory (its offsets tolerate prefix deletion via the marker);
  * Spark's generic file source fails on missing files, so retention stays
  * off in JSON-envelope mode.
  */
final class SegmentRetention(dir: String, conf: Configuration,
                             val index: SegmentLsnIndex) {

  private def fs: FileSystem = graft.util.LocalFs.fileSystem(dir, conf)

  /** Delete the longest name-prefix of segments with maxLsn ≤ `horizon`
    * (plus any straggler at or below the current marker from a crashed
    * prior cycle). Marker first, deletes second. Returns files deleted. */
  def retire(horizon: Long): Int = {
    val f = fs
    // re-commit a crashed cycle's tmp before this cycle overwrites it
    SegmentRetention.healMarker(f, dir)
    val (retired, highest) = SegmentRetention.readMarker(f, dir)
    val listed = index.listIndexed()
    // the retirable prefix: stop at the FIRST file that neither belongs to
    // a crashed prior cycle (name ≤ marker) nor is wholly below the horizon
    val prefix = listed.takeWhile { case (st, (_, max)) =>
      st.getPath.getName <= highest || (max <= horizon && max != Long.MinValue)
    }
    if (prefix.isEmpty) return 0
    val fresh = prefix.filter(_._1.getPath.getName > highest)
    if (fresh.nonEmpty) {
      val newCount = retired + fresh.size
      val newHighest = fresh.last._1.getPath.getName
      val tmp = new Path(dir, SegmentRetention.TmpMarkerName)
      val out = f.create(tmp, true)
      try out.write(s"retired $newCount $newHighest\n".getBytes(UTF_8))
      finally out.close()
      val marker = new Path(dir, SegmentRetention.MarkerName)
      f.delete(marker, false)
      if (!f.rename(tmp, marker))
        throw new java.io.IOException(s"retention: could not commit marker in $dir")
    }
    prefix.foreach { case (st, _) => f.delete(st.getPath, false) }
    prefix.size
  }
}
