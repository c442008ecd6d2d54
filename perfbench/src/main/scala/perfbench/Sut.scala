package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

/** The system under test: one JVM running a local SparkSession with the
  * board's session profile, serving the engine over `graft.surface`.
  * Launched by `run.py` as
  * `perfbench.Sut --workload W --input DIR --work DIR --cores N
  *  --trace 0|1`.
  * It loads the workload's data `LoadReps` times (set-up reports the
  * median load), warms the engine once, prints one `PBREADY {json}` line,
  * then answers the control endpoints below on a second port until
  * `/quit`:
  *
  *  - `/direct` one exec program through the engine without HTTP
  *  - `/probes` direct calls into kernels, sources, script and text
  *  - `/drain`  let the ingest streams catch up, then stop them
  *  - `/trace/start`, `/trace/stop`, `/stats`, `/quit`
  */
object Sut {
  val LoadReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = opt("cores").toInt
    val input = opt("input")
    val work = opt("work")
    val traced = opt.getOrElse("trace", "0") == "1"

    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = Session.build(cores, work)
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, install = traced)
    val meta = Json.parse(new String(
      Files.readAllBytes(Paths.get(input, "meta.json")), UTF_8))

    val wl: Workload = opt("workload") match {
      case "exec-dashboard" => new ExecDashboard(spark, tracer, input, work, meta)
      case "ingest-fetch" => new IngestFetch(spark, tracer, input, work, meta)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val loadS = (1 to LoadReps).map(r => timed(wl.load(r, last = r == LoadReps)))
    val warmS = timed(wl.warm())

    val done = new CountDownLatch(1)
    val ctl = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def route(path: String)(f: HttpExchange => String): Unit =
      ctl.createContext(path, (ex: HttpExchange) => {
        val (code, body) =
          try (200, f(ex))
          catch { case e: Throwable =>
            (500, Json(Map("error" -> (e.getClass.getName + ": " +
              String.valueOf(e.getMessage)).take(2000))))
          }
        val bytes = body.getBytes(UTF_8)
        ex.sendResponseHeaders(code, bytes.length)
        val os = ex.getResponseBody
        os.write(bytes); os.close()
      })
    def body(ex: HttpExchange) =
      new String(ex.getRequestBody.readAllBytes(), UTF_8)
    route("/direct")(ex => wl.direct(body(ex)))
    route("/drain")(_ => wl.drain())
    route("/probes")(_ => Json(Probes.run(spark, input)))
    route("/trace/start")(_ => { tracer.start(); "{}" })
    route("/trace/stop")(_ => Json(tracer.stop()))
    route("/stats")(_ => Json(Map("rss_peak_mb" -> Session.rssPeakMb)))
    route("/quit")(_ => { done.countDown(); "{}" })
    ctl.start()

    println("PBREADY " + Json(Map(
      "control_port" -> ctl.getAddress.getPort,
      "port" -> wl.port,
      "boot_s" -> bootS,
      "load_s" -> loadS,
      "warm_s" -> warmS,
      "cores" -> cores,
      "confs" -> Session.confs(spark),
      "info" -> wl.info)))
    System.out.flush()

    done.await()
    Thread.sleep(50) // let the /quit response flush
    wl.close()
    ctl.stop(0)
    spark.stop()
    System.exit(0)
  }
}

/** The session the SUT runs on: the confs `graft.Bench.runInProcess`
  * sets, at `cores` cores, plus where Spark may write (inside `work`). */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every conf the session holds, SQL and core. */
  def confs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.toMap ++ spark.sparkContext.getConf.getAll.toMap

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.drop(6).trim.stripSuffix("kB").trim.toDouble / 1024.0 }
      .getOrElse(0.0)
}

/** One workload's server side. */
trait Workload {
  /** Lay the generated data out for serving; the run repeats this and
    * keeps the last copy. */
  def load(rep: Int, last: Boolean): Unit
  /** Warm codegen and the JIT before the first timed op. */
  def warm(): Unit = ()
  def port: Int = 0
  def info: Map[String, Any] = Map.empty
  def direct(program: String): String = unsupported("/direct")
  def drain(): String = unsupported("/drain")
  def close(): Unit = ()
  private def unsupported(p: String) =
    throw new UnsupportedOperationException(s"$p is not part of this workload")

  /** Bytes and files under `dir`. */
  protected def du(dir: String): (Long, Long) = {
    val root = new File(dir)
    if (!root.exists) (0L, 0L)
    else {
      val files = Files.walk(root.toPath)
      try {
        val fs = files.filter(p => Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (fs.map(p => Files.size(p)).sum, fs.length.toLong)
      } finally files.close()
    }
  }
}

object Ids {
  private val n = new AtomicLong(0)
  def next(prefix: String): String = s"$prefix-${n.incrementAndGet()}"
}
