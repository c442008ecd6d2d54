package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer CLI (tooling, not part of the engine), on the bench's own
  * session ([[Bench.session]]) so it sees the configuration the board
  * times:
  *
  *  - `runMain graft.Dev profile <k> <query> [query...]` runs each
  *    named SparkEntry query K times in one JVM into the noop sink
  *    (guide §1.4 — computes every column, discards the write), so
  *    first-run planning/codegen cost and steady-state compute are
  *    separable; each run prints its wall time and its stage table.
  *  - `runMain graft.Dev explain [query...]` prints the formatted
  *    physical plan of each named query (default: a representative
  *    scale-sensitive set).
  *
  * SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS resolve as for Bench;
  * SPARK_GRAFT_CONF="k=v;k=v" sets extra session confs for A/B runs.
  */
object Dev {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("profile") => withSession(profile(_, args.drop(1).toSeq))
    case Some("explain") => withSession(explain(_, args.drop(1).toSeq))
    case _ =>
      System.err.println("usage: graft.Dev profile <k> <query> [query...]" +
        " | graft.Dev explain [query...]")
      sys.exit(2)
  }

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def withSession(f: SparkSession => Unit): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    try f(spark) finally spark.stop()
  }

  private def profile(spark: SparkSession, args: Seq[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(2)
    val names = args.drop(1)
    // stage-level accounting: wall duration + summed executor run time
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield (c - s) / 1e3).getOrElse(-1.0)
        stages.add((si.name.takeWhile(_ != '\n').take(90), wall,
          si.taskMetrics.executorRunTime / 1e3, si.numTasks))
      }
    })
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    for (name <- names; i <- 1 to k) {
      SparkEntry.prewarm.get(name).foreach(p =>
        try p(spark, sfDir) catch { case _: Throwable => })
      stages.clear()
      spark.sparkContext.setJobDescription(s"$name run$i")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case e: Throwable =>
        println(s"[profile] $name run$i FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
      Thread.sleep(200) // let late stage-completed events drain
      val ss = stages.asScala.toSeq.sortBy(-_._2)
      println(f"[profile]   ${ss.size} stages, wall-sum ${ss.map(_._2).sum}%.2f s, " +
        f"exec-sum ${ss.map(_._3).sum}%.2f s")
      ss.take(12).foreach { case (n, w, e, t) =>
        println(f"[profile]   stage $n%-90s wall $w%6.2f exec $e%7.2f tasks $t%4d")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  private def explain(spark: SparkSession, args: Seq[String]): Unit = {
    val names = if (args.nonEmpty) args
      else Seq("g01_fetch_selector", "r01_pricing_summary", "r09_shipping_priority",
        "g34_valuesort", "g48_geo_cover_pushdown", "t15_simhash_neardup_banded",
        "a03_lsh_multiband", "g57_stl_classical",
        "g89_linreg", "t26_bm25", "t31_cms_heavy_hitters", "g100_salted_agg")
    for (name <- names) {
      println(s"========== $name ==========")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode))
    }
  }
}
