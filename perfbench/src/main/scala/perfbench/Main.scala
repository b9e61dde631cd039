package perfbench

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw measurements as JSON; the
  * Python wrapper (`perfbench/run.py`) turns them into metrics.
  *
  * Usage: perfbench.Main --workload serve_read|serve_mixed --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val Setups = 3
  /** Unmeasured seconds of the workload's own mix before timing. */
  val WarmSeconds = 3.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try { run(opts); 0 }
      catch { case e: Throwable => e.printStackTrace(); 3 }
    // HttpApi.stop() leaves the server's fixed thread pool running; its
    // non-daemon threads would keep this JVM alive, so end it here.
    System.exit(code)
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    val work = new File(opts("work"))
    work.mkdirs()

    val out = Client.mapper.createObjectNode()
    out.put("workload", workload)
    out.put("seed", seed)
    out.put("seconds", seconds)
    out.put("trace", traced)
    val env = out.putObject("env")
    env.put("java_version", System.getProperty("java.version"))
    env.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    env.put("jvm_cpus", Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = session(work)
    spark.range(100000L).selectExpr("sum(id)").collect() // first-job warm-up
    out.put("session_s", (System.nanoTime() - t0) / 1e9)
    env.put("spark_version", spark.version)

    val serve: Serve = workload match {
      case "serve_read" => new ServeRead(spark, seed)
      case "serve_mixed" => new ServeMixed(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupArr = out.putArray("setup_s")
    (0 until Setups).foreach { rep =>
      val s0 = System.nanoTime()
      serve.setup(rep)
      setupArr.add((System.nanoTime() - s0) / 1e9)
    }
    serve match {
      case r: ServeRead =>
        val b = out.putObject("index_build_s")
        r.buildSeconds.foreach { case (t, s) => b.put(t, s) }
      case _ =>
    }

    // the same mix, unmeasured, so JIT compilation and lazily built
    // state settle before timing
    val w0 = System.nanoTime()
    serve.httpPhase(WarmSeconds, "warm")
    out.put("warm_s", (System.nanoTime() - w0) / 1e9)
    val (samples, elapsed) = serve.httpPhase(seconds, "measure")
    Serve.samplesJson(out, "http", samples, elapsed)
    val (attempted, failures) = serve.check(out)
    val checks = out.putObject("checks")
    checks.put("attempted", attempted)
    val fl = checks.putArray("failures")
    failures.foreach(fl.add)

    if (traced) {
      val probe = Probe.register(spark)
      serve.tracedPhase(seconds, probe, out.putObject("traced"))
      val sites = out.putObject("jobs_by_site")
      scala.jdk.CollectionConverters.CollectionHasAsScala(probe.jobs).asScala
        .groupBy(_._1).foreach { case (site, js) =>
          val o = sites.putObject(site)
          o.put("count", js.size)
          o.put("ms", js.map(_._2).sum)
        }
      writeSpans(new File(new File(opts("out")).getParentFile, s"spans-$workload-$seed.jsonl"))
    }
    serve.close()
    Files.write(new File(opts("out")).toPath, Client.mapper.writeValueAsBytes(out))
  }

  /** Every span of the traced phase, one JSON object per line. */
  private def writeSpans(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try scala.jdk.CollectionConverters.CollectionHasAsScala(Trace.spans).asScala.foreach { s =>
      val o: ObjectNode = Client.mapper.createObjectNode()
      o.put("req", s.req); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
      w.println(Client.mapper.writeValueAsString(o))
    }
    finally w.close()
  }
}
