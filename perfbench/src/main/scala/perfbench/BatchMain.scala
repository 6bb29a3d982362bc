package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Batch workloads: registered queries called through
  * `SparkEntry.queries(name)(spark, dir)` and materialized through the
  * `noop` sink, in the given order, in one warmed session.
  *
  *   --data <dir> --queries q1,q2,.. --seconds <s> --trace 0|1
  *   --cores <n> --out <file.json>
  *
  * Phases: set-up (session, input schemas, noop sink; timed from JVM
  * start), one check pass that fingerprints every query, untimed warm-up
  * passes for `WarmSeconds`, then whole timed passes over the list until
  * `seconds` have gone. With `--trace 1` twice as many passes run, every
  * second one under the listeners, so the overhead of tracing shows.
  * Writes one JSON document of raw samples; the caller derives metrics.
  */
object BatchMain {

  type Fn = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Untimed passes after the check pass: on 4 cores the first two passes
    * after it still ran up to a third slower than the later ones.
    */
  val WarmSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val f = new Flags(args)
    val data = f("data")
    val names = f("queries").split(",").toSeq
    val seconds = f("seconds").toDouble
    val traced = f("trace") == "1"
    val cores = f.int("cores", 4)
    val registry = graft.SparkEntry.queries
    val fns: Seq[(String, Fn)] = names.map(n =>
      n -> registry.getOrElse(n, sys.error(s"unknown query $n")))

    // set-up, cold: from JVM start until the session, the input schemas
    // and the noop sink are ready for the first query call
    val spark = graft.Sessions.batch("perfbench-batch", cores)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.names
      .filter(t => new java.io.File(s"$data/$t.parquet").exists)
      .foreach(t => graft.Tables.loaderFor(t)(spark, data).schema)
    spark.range(1000).write.format("noop").mode("overwrite").save()
    val setupS = Common.secsSinceJvmStart()

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      graft.queries.CurationQueries.releaseStages()
    }

    val checks = fns.map { case (n, fn) =>
      val r = Try(Trace.within(spark, s"$n#check")(Fingerprint.of(fn(spark, data))))
      Try(cleanup())
      n -> (r match {
        case Success(p) => p.toMap
        case Failure(e) => ListMap("error" -> String.valueOf(e.getMessage).take(500))
      })
    }

    /** Whole passes over the list for about `seconds`: another pass
      * starts only while at least half an average pass is left. With a
      * trace, every second pass runs under its listeners, so traced and
      * untraced passes share the JVM's warm-up evenly.
      */
    def timedPasses(seconds: Double, trace: Option[Trace]): Map[String, Any] = {
      val samples = ArrayBuffer[Map[String, Any]]()
      val passes = ArrayBuffer[Map[String, Any]]()
      val t0 = Common.now()
      var pass = 0
      while (pass == 0 ||
          Common.secsSince(t0) * (1.0 + 0.5 / pass) < seconds) {
        val tracer = trace.filter(_ => pass % 2 == 1)
        tracer.foreach(_.attach())
        val cpu0 = Common.processCpuNs()
        val p0 = Common.now()
        for ((n, fn) <- fns) {
          val w0 = Common.wallMs()
          val n0 = Common.now()
          val r = Try {
            val df = Trace.within(spark, s"$n#$pass/build")(fn(spark, data))
            val w1 = Common.wallMs()
            val n1 = Common.now()
            Trace.within(spark, s"$n#$pass/execute")(
              df.write.format("noop").mode("overwrite").save())
            (w1, n1)
          }
          val n2 = Common.now()
          val w2 = Common.wallMs()
          Try(cleanup())
          samples += (r match {
            case Success((w1, n1)) => ListMap("query" -> n, "pass" -> pass,
              "start_ms" -> w0, "built_ms" -> w1, "end_ms" -> w2,
              "build_s" -> (n1 - n0) / 1e9, "execute_s" -> (n2 - n1) / 1e9,
              "wall_s" -> (n2 - n0) / 1e9)
            case Failure(e) => ListMap("query" -> n, "pass" -> pass,
              "start_ms" -> w0, "end_ms" -> w2, "wall_s" -> (n2 - n0) / 1e9,
              "error" -> String.valueOf(e.getMessage).take(500))
          })
        }
        passes += ListMap("pass" -> pass, "traced" -> tracer.isDefined,
          "wall_s" -> Common.secsSince(p0), "cpu_s" -> (Common.processCpuNs() - cpu0) / 1e9)
        tracer.foreach(_.detach())
        pass += 1
      }
      ListMap("passes" -> passes.toSeq, "samples" -> samples.toSeq)
    }

    timedPasses(WarmSeconds, None)
    val trace = if (traced) Some(new Trace(spark)) else None
    val measured = timedPasses(if (traced) 2 * seconds else seconds, trace)
    Common.writeFile(f("out"), Common.json(ListMap(
      "cores" -> cores,
      "setup_s" -> setupS,
      "checks" -> ListMap(checks: _*),
      "measured" -> measured,
      "trace" -> trace.map(_.dump()),
      "peak_rss_mb" -> Common.peakRssMb(),
      "heap_live_mb" -> Common.liveHeapMb())))
    spark.stop()
  }
}
