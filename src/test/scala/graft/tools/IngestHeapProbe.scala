package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import graft.SparkTestBase
import graft.streaming.Ingest

/** Heap and time per ingest commit in one long-lived session, as
  * `live`'s ingest commits a micro-batch every trigger: each commit is
  * 101 lines (100 series plus a marker) written as a text file, read
  * with `spark.read.text` and run through `Ingest.processBatch` into
  * one store.
  *
  * Every `every` commits it prints one `PROBE` line: the median commit
  * time of that window, the used heap after a full GC and the count of
  * Spark's persisted RDDs (a cached relation that outlives its commit
  * shows up there). The first line carries the JVM's pid, for
  * `jcmd <pid> GC.class_histogram` snapshots while it runs.
  *
  * `Test/runMain graft.tools.IngestHeapProbe [commits=1000] [every=100]`
  */
object IngestHeapProbe {
  def main(args: Array[String]): Unit = {
    val commits = args.headOption.fold(1000)(_.toInt)
    val every = args.lift(1).fold(100)(_.toInt)
    val spark = SparkTestBase.spark
    val dir = Files.createTempDirectory("graft-heap-probe")
    val store = dir.resolve("store").toString
    val t0 = 1704067200L

    def usedMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    println(f"PROBE pid=${ProcessHandle.current.pid} commits=$commits heap_mb=${usedMb()}%.1f")
    val times = ArrayBuffer.empty[Double]
    try {
      for (c <- 1 to commits) {
        val ts = t0 + 10L * c
        val lines = (0 until 100).map(i => s"probe.host$i.cpu ${c % 97}.0 $ts") :+ s"probe.marker $c.0 $ts"
        val file = dir.resolve(s"lines/$c.txt")
        Files.createDirectories(file.getParent)
        Files.write(file, lines.asJava)
        val start = System.nanoTime()
        Ingest.processBatch(Ingest.parseLines(spark.read.text(file.toString)), store)
        times += (System.nanoTime() - start) / 1e6
        if (c % every == 0) {
          val median = times.sorted.apply(times.length / 2)
          println(f"PROBE commit=$c median_ms=$median%.1f heap_mb=${usedMb()}%.1f " +
            s"persisted_rdds=${spark.sparkContext.getPersistentRDDs.size}")
          times.clear()
        }
      }
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
}
