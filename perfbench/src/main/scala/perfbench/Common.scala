package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line flags of the form `--name value`. */
final class Flags(args: Array[String]) {
  private val m: Map[String, String] = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String, default: Int): Int = m.get(k).map(_.toInt).getOrElse(default)
}

object Common {

  def now(): Long = System.nanoTime()

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds since this JVM was started, by the runtime's own start stamp. */
  def secsSinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Wall-clock milliseconds, the clock Spark's listener events use. */
  def wallMs(): Long = System.currentTimeMillis()

  /** CPU time used so far by all threads of this JVM. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set size of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use right after a full collection, in MB: what the program
    * keeps live. Call it only once the measured work is done.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def writeFile(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Render a value as JSON: maps keep insertion order, `RawJson` is
    * spliced in as is, and doubles keep all their digits.
    */
  def json(v: Any): String = v match {
    case RawJson(text) => text
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.serve.Json.write(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case Some(x) => json(x)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case other => graft.serve.Json.write(other)
  }

  /** Flush Spark's listener bus so every recorded event has arrived. */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
