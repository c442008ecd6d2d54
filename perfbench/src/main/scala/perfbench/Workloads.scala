package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.kernels.{SeriesKernels, StlKernel}
import graft.model.{Gts, GtsType, LongTable}
import graft.operators.GtsFrame
import graft.script.{StlParams, WarpScriptEngine, WarpScriptTokenizer}
import graft.streaming.StreamingIngest
import graft.surface.{RestFacade, StackJson}
import graft.text.{DedupClusters, TextOps}

/** Generated points (class, host, dc, ts, v) → the canonical long table
  * in the `model.LongTable` at-rest layout, and engines over it. */
object Lake {
  val MaxRows = 1000000

  def load(spark: SparkSession, points: String, lake: String): Unit = {
    val raw = spark.read.parquet(points)
    LongTable.write(Gts.canonical(raw.select(
      col("class"),
      map(lit("host"), col("host"), lit("dc"), col("dc")).as("labels"),
      col("ts"),
      lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
      lit(null).cast("long").as("elev"), lit(GtsType.DOUBLE).as("vtype"),
      lit(null).cast("long").as("vlong"), col("v").as("vdouble"),
      lit(null).cast("boolean").as("vbool"),
      lit(null).cast("string").as("vstring"),
      lit(null).cast("binary").as("vbinary"))), lake)
  }

  /** FETCH through the at-rest layout: the day partitions prune first,
    * then the class/label selector applies. */
  def engine(spark: SparkSession, lake: String): WarpScriptEngine =
    new WarpScriptEngine(
      fetch = (cls, labels, a, b) =>
        GtsFrame(LongTable.fetchRange(spark, lake, a, b)).select(cls, labels),
      nowTs = 0L, session = Some(spark))

  def readText(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists) {
      val walk = Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

/** exec-dashboard: `POST /api/v0/exec` over a RestFacade on the lake. */
final class ExecDashboard(spark: SparkSession, tracer: Tracer, input: String,
                          work: String, meta: Map[String, Any]) extends Workload {
  private var lake: String = _
  private var facade: RestFacade = _
  private var bound = 0

  def load(rep: Int, last: Boolean): Unit = {
    val dir = s"$work/lake-$rep"
    Lake.load(spark, s"$input/points.parquet", dir)
    if (last) lake = dir else Lake.delete(dir)
  }

  /** Start serving; run.py warms the engine through HTTP. */
  override def warm(): Unit = {
    facade = new RestFacade(GtsFrame(LongTable.read(spark, lake).drop("tsday")),
      () => {
        spark.sparkContext.setLocalProperty(Tracer.OpKey, Ids.next("req"))
        Lake.engine(spark, lake)
      }, maxRows = Lake.MaxRows)
    bound = facade.start(0)
  }

  override def port: Int = bound
  override def info: Map[String, Any] = {
    val (bytes, files) = du(lake)
    Map("lake_bytes" -> bytes, "lake_files" -> files)
  }

  /** The same program as `/api/v0/exec`, called in-process: tokenize,
    * run, render — each its own span. */
  override def direct(program: String): String = {
    val id = Ids.next("direct")
    val t0 = System.nanoTime()
    val tokens = WarpScriptTokenizer.tokenize(program).size
    val t1 = System.nanoTime()
    val stack = tracer.span("script.run", s"$id.run")(_ =>
      Lake.engine(spark, lake).run(program))
    val t2 = System.nanoTime()
    val out = tracer.span("surface.render", s"$id.render")(_ =>
      stack.map(StackJson.render(_, Lake.MaxRows)).mkString("[", ",", "]"))
    val t3 = System.nanoTime()
    Json(Map("op" -> id, "tokens" -> tokens, "tokenize_us" -> (t1 - t0) / 1e3,
      "run_ms" -> (t2 - t1) / 1e6, "render_ms" -> (t3 - t2) / 1e6,
      "bytes" -> out.getBytes(UTF_8).length))
  }

  override def close(): Unit = if (facade != null) facade.stop()
}

/** The text layer's near-duplicate pass: MinHash-LSH candidates
  * (`TextOps.lshCandidates`), exact shingle-Jaccard verification of the
  * candidates, then `DedupClusters.connectedComponents`. */
object Dedup {
  val Threshold = 0.5

  def clusters(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cand = TextOps.lshCandidates(docs, "text", 3)
    val sh = TextOps.shingles(docs, "text", 3)
      .select(col("doc_id"), TextOps.hexHash60(col("shingle")).as("h"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("ida"), col("h")), "ida")
      .join(sh.select(col("doc_id").as("idb"), col("h")), Seq("idb", "h"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col("doc_id").as("ida"), col("n").as("na")), "ida")
      .join(sizes.select(col("doc_id").as("idb"), col("n").as("nb")), "idb")
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= Threshold)
      .select(col("ida").as("src"), col("idb").as("dst"))
    (cand, pairs, DedupClusters.connectedComponents(pairs))
  }
}

/** ingest-fetch: `StreamingIngest.ingestFiles` appends line-protocol
  * files to a parquet sink while a watermarked
  * `StreamingIngest.streamingBucketize` rollup runs over the same
  * source; `GET /api/v0/fetch` re-reads the sink on every request. */
final class IngestFetch(spark: SparkSession, tracer: Tracer, input: String,
                        work: String, meta: Map[String, Any]) extends Workload {
  private val in = s"$input/in"
  private val triggerMs = meta("trigger_ms").toString.toDouble.toLong
  private val rollupSpan = meta("rollup_span_us").toString.toDouble.toLong
  private var sink: String = _
  private var queries = Seq.empty[StreamingQuery]
  private var facade: RestFacade = _
  private var bound = 0

  private def start(rep: Int): Seq[StreamingQuery] = {
    val trigger = Trigger.ProcessingTime(triggerMs)
    val ingest = StreamingIngest.ingestFiles(spark, in, s"$work/sink-$rep",
        s"$work/ck-ingest-$rep", now = 0L)
      .trigger(trigger).queryName("ingest").start()
    val rollup = StreamingIngest.streamingBucketize(
        StreamingIngest.parseStream(spark.readStream.text(in), 0L),
        rollupSpan, "30 seconds")
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", s"$work/ck-rollup-$rep")
      .trigger(trigger).queryName("rollup").start()
    Seq(ingest, rollup)
  }

  def load(rep: Int, last: Boolean): Unit = {
    val qs = start(rep)
    qs.foreach(_.processAllAvailable())
    if (!last) {
      qs.foreach(_.stop())
      Seq("sink", "ck-ingest", "ck-rollup").foreach(d => Lake.delete(s"$work/$d-$rep"))
    } else {
      queries = qs
      sink = s"$work/sink-$rep"
      val read = () => {
        spark.sparkContext.setLocalProperty(Tracer.OpKey, Ids.next("fetch"))
        GtsFrame(spark.read.parquet(sink))
      }
      facade = new RestFacade(read(),
        () => new WarpScriptEngine(
          (cls, labels, a, b) => read().select(cls, labels).timeclip(a, b),
          nowTs = 0L, session = Some(spark)),
        maxRows = Lake.MaxRows)
      bound = facade.start(0)
    }
  }

  override def port: Int = bound

  /** Wait until both streams have consumed every file written so far,
    * then stop them and report the sink. */
  override def drain(): String = {
    queries.foreach(_.processAllAvailable())
    val progress = queries.map(x => x.name -> x.recentProgress.length).toMap
    queries.foreach(_.stop())
    val (bytes, files) = du(sink)
    val parquet = Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet"))
    Json(Map("sink" -> sink, "sink_bytes" -> bytes, "sink_files" -> files,
      "sink_parquet_files" -> parquet, "recent_progress" -> progress))
  }

  override def close(): Unit = {
    if (facade != null) facade.stop()
    queries.foreach(q => try q.stop() catch { case _: Throwable => })
  }
}

/** Direct calls into layer functions, for the traced run: single-thread
  * kernel, parser and tokenizer timings, and the text layer's counts. */
object Probes {
  private def medianUs(reps: Int)(f: => Unit): Double = {
    f // warm-up
    val xs = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3
    }.sorted
    xs(xs.size / 2)
  }

  def run(spark: SparkSession, input: String): Map[String, Any] = {
    val series = Lake.readText(s"$input/kernels.csv").split("\n").toSeq
      .filter(_.nonEmpty).map(_.split(",").map(_.toDouble))
    val span = 3600000000L
    val lb = 1699999200000000L
    def ticks(n: Int) = Array.tabulate(n)(i => lb - (n - 1 - i) * span)
    def perSeries(f: (Array[Long], Array[Double]) => Any): Double =
      medianUs(5)(series.foreach(v => f(ticks(v.length), v.clone()))) /
        math.max(series.size, 1)
    def bucketed(t: Array[Long], v: Array[Double]) =
      StlKernel.ofPoints(t, v, Some((t.last, span, t.length.toLong)))
    val p = StlParams.resolve(Map("PERIOD" -> 24L))
    val kernels = Map(
      "stl_us_per_series" -> perSeries((t, v) => StlKernel.stl(bucketed(t, v),
        p.bpp, p.inner, p.outer, p.ns, p.ds, p.js, p.nl, p.dl, p.jl,
        p.nt, p.dt, p.jt, p.np, p.dp, p.jp)),
      "lowess_us_per_series" -> perSeries((t, v) =>
        StlKernel.rlowess(bucketed(t, v), 7, 0, 0L, 1)),
      "lttb_us_per_series" -> perSeries((t, v) =>
        SeriesKernels.lttbReference(t.indices.map(i => SeriesKernels.Pt(t(i), v(i))),
          50, false)),
      "esd_us_per_series" -> perSeries((t, v) =>
        StlKernel.esdTest(t, v, v.length, 5, false, 0.05)))

    val lines = Lake.readText(s"$input/lines.txt").split("\n").filter(_.nonEmpty)
    val parseUs = medianUs(5) {
      graft.sources.LineProtocol.parseBatch(lines.iterator, 0L, None, None)
        .foreach(_ => ())
    }
    val programs = {
      val f = new File(s"$input/programs.txt")
      if (!f.exists) Seq.empty[String]
      else Lake.readText(f.getPath).split("\n----\n").toSeq.map(_.trim)
        .filter(_.nonEmpty)
    }
    val tokens = programs.map(WarpScriptTokenizer.tokenize(_).size)
    val tokenizeUs = if (programs.isEmpty) 0.0
      else medianUs(20)(programs.foreach(WarpScriptTokenizer.tokenize)) / programs.size
    // the text layer: the near-dup pass over the probe documents
    val (cand, pairs, cc) = Dedup.clusters(spark.read.parquet(s"$input/probe_docs.parquet"))
    val text = Map("candidates" -> cand.count(), "pairs" -> pairs.count(),
      "clusters" -> cc.collect().map(r => Seq(r.getLong(0), r.getLong(1))))
    Map("kernels" -> kernels, "text" -> text,
      "parse_ns_per_line" -> parseUs * 1e3 / math.max(lines.length, 1),
      "tokenize_us" -> tokenizeUs,
      "tokens" -> (if (tokens.isEmpty) 0.0 else tokens.sum.toDouble / tokens.size))
  }
}
