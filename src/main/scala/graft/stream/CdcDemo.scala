package graft.stream

import graft.cdc.Changelog
import graft.model.Mapping
import graft.sink.ParquetVectorStore

/** Runnable demo of the streaming pipeline: replays the synthetic change
  * log through the file-envelope source into a parquet vector store and
  * prints the resulting state. Usage:
  *   runMain graft.stream.CdcDemo <sfDir> <workDir>
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir) = args
    val spark = graft.Harness.session()

    val src = s"$workDir/envelopes"
    Changelog.envelopes(spark, sfDir).coalesce(1)
      .write.mode("overwrite").text(src)

    val nChanges = spark.read.text(src).count()
    val health = new Health().register(spark) // O1: /healthz equivalent
    val t0 = System.nanoTime()
    val q = CdcStream.run(spark, src, s"$workDir/store", s"$workDir/ckpt",
      Mapping.documents)
    q.processAllAvailable()
    q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[cdc-demo] $nChanges changes in $secs%.1f s = ${nChanges / secs}%.0f changes/s")
    println(s"[cdc-demo] health: ${health.statusJson}")

    val state = new ParquetVectorStore(s"$workDir/store").current(spark)
    println(s"[cdc-demo] vector-store state rows: ${state.count()}")
    state.show(5, truncate = 60)
    spark.stop()
  }
}
