package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap

import graft.ServeMain

/** The server side of the soak: the packaged app, wired by
  * `ServeMain.wire` on an ephemeral port in this JVM.
  *
  *   --port-file <f> --cores <n>
  *
  * After set-up (session plus wiring, timed from JVM start) the bound
  * port is written to the port file, and commands are read from standard
  * input, one per line:
  *
  *   trace      attach the trace listeners
  *   untrace    detach them again
  *   mark       start the measured window (CPU time, backlog maximum)
  *   dump <f>   write the run's server-side figures to <f>
  *   quit       close the app and exit
  *
  * Segment frames published to the SSE hub are counted in process by a
  * subscription of this JVM's own, so they cost no client connection.
  */
object ServeEntry {

  def main(args: Array[String]): Unit = {
    val f = new Flags(args)
    val cores = f.int("cores", 4)
    // set-up, cold: from JVM start until the app is wired and serving
    val spark = graft.Sessions.streaming("perfbench-serve", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val app = ServeMain.wire(spark, 0)
    val setupS = Common.secsSinceJvmStart()

    val running = new AtomicBoolean(true)
    val segmentFrames = new AtomicLong(0L)
    val backlogMax = new AtomicInteger(0)
    val frames = app.segmentsHub.subscribe()
    val counter = new Thread(() => {
      while (running.get()) {
        val m = frames.poll(200L)
        if (m != null && m.contains("\"type\":\"segment_event\"")) segmentFrames.incrementAndGet()
      }
      frames.cancel()
    })
    counter.setDaemon(true); counter.start()
    val sampler = new Thread(() => {
      while (running.get()) {
        val b = app.feeders.map(_.backlog).max
        backlogMax.accumulateAndGet(b, math.max)
        Thread.sleep(20L)
      }
    })
    sampler.setDaemon(true); sampler.start()

    var trace: Option[Trace] = None
    var cpuMark = 0L
    var wallMark = Common.now()
    def snapshot(): Map[String, Any] = ListMap(
      "processed" -> app.cdpMetrics.snapshot("cdp.events.processed"),
      "watermark_lag_ms" -> app.cdpMetrics.snapshot("cdp.watermark.lag_ms"),
      "feeder_dropped" -> app.feeders.map(_.dropped.get).sum,
      "feeder_backlog" -> app.feeders.map(_.backlog).sum,
      "feeder_backlog_max" -> backlogMax.get,
      "segment_frames" -> segmentFrames.get)

    Common.writeFile(f("port-file") + ".tmp", app.server.boundPort.toString)
    java.nio.file.Files.move(java.nio.file.Paths.get(f("port-file") + ".tmp"),
      java.nio.file.Paths.get(f("port-file")),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      line.trim.split(" ", 2) match {
        case Array("trace") => trace = Some(new Trace(spark).attach())
        case Array("untrace") => trace.foreach(_.detach())
        case Array("mark") =>
          cpuMark = Common.processCpuNs(); wallMark = Common.now()
          backlogMax.set(0)
        case Array("dump", path) =>
          Common.writeFile(path, Common.json(snapshot() ++ ListMap(
            "setup_s" -> setupS,
            "cpu_s" -> (Common.processCpuNs() - cpuMark) / 1e9,
            "wall_s" -> Common.secsSince(wallMark),
            "cores" -> cores,
            "trace" -> trace.map(_.dump()),
            "peak_rss_mb" -> Common.peakRssMb(),
            "heap_live_mb" -> Common.liveHeapMb())))
          println("{\"dumped\":true}")
        case other => System.err.println(s"unknown command: ${other.mkString(" ")}")
      }
      System.out.flush()
      line = in.readLine()
    }
    running.set(false)
    app.close()
    spark.stop()
  }
}
