package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    // the bench's own session: the oracle gates the configuration the
    // board measures (default 4 cores here, not the bench's 32)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // One result per declared query, ALWAYS — a failed query records its
    // error instead of silently vanishing from the artifact (round 5 lost
    // 199 rows to a swallowed analysis exception + exit 0).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        errors(name) = msg
        // stdout AND stderr: sbt routes these differently and the
        // driver's log capture must see the failure either way
        println(s"[verify] FAIL $name: $msg")
        System.err.println(s"[verify] FAIL $name: $msg")
      }
      // Same per-query sweep the bench uses (r14): the query paths'
      // lazy persists register with the CacheManager and are never
      // unpersisted by their owners, so a 341-query single-JVM run
      // otherwise accumulates cached frames for its whole life —
      // MEMORY_AND_DISK spills rather than OOMs, but the pressure
      // grows unboundedly and taxes later queries.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record (empty object when all green) so
    // the gate can emit err rows even for queries with no parquet output.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (errors.nonEmpty) {
      println(s"[verify] ${errors.size} of ${SparkEntry.queries.size} queries FAILED")
      sys.exit(2)
    }
  }
}
