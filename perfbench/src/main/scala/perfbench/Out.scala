package perfbench

/** Minimal JSON rendering for the result and detail files (numbers,
  * strings, booleans, sequences and string-keyed maps). */
object Out {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + graft.util.Json.escape(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case x => render(x.toString)
  }

  def write(path: java.nio.file.Path, v: Any): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0,1]); NaN on empty input. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Execute the whole plan, every output column materialised, and write
    * nothing — the timed action of every workload. */
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** Directory entries (the listing stream is closed). */
  def ls(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(dir)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
    finally s.close()
  }

  /** Bytes and regular-file count under a directory (0 if absent). */
  def du(dir: java.nio.file.Path): (Long, Int) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        var bytes = 0L
        var files = 0
        s.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
          bytes += java.nio.file.Files.size(p); files += 1
        }
        (bytes, files)
      } finally s.close()
    }
}
