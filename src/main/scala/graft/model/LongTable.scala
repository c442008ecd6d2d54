package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** At-rest layout of the canonical long table (FIXTURES.md §1 DDL):
  * parquet partitioned by UTC day of the tick, rows clustered by
  * (gtsid, ts) inside each file.
  *
  * This is the 100 TB design (SURVEY §4.1 "time-range pushdown"):
  *  - `tsday` partition column → FETCH time ranges prune whole
  *    directories before any IO (the analogue of the reference's
  *    rowkey seek on reversed timestamps, StandaloneStoreClient:180);
  *  - within a partition, parquet row-group min/max stats on `gtsid`
  *    and `ts` (from the sortWithinPartitions clustering) narrow the
  *    scan to the selected series — the analogue of the
  *    classId/labelsId rowkey prefix;
  *  - DELTA_BINARY_PACKED on sorted `ts` replaces GTSEncoder's
  *    per-point delta compression (SURVEY §1.1).
  *
  * The at-rest schema is declared by the writer and never inferred at
  * read time: [[write]] accepts only `Gts.pointSchema` frames and
  * [[read]] hands Spark [[schema]]. Parquet schema inference runs a
  * Spark job (a footer merge) on every read, which FETCH would pay on
  * every request before its real plan exists.
  */
object LongTable {

  val DayMicros: Long = 86400000000L

  /** The lake's schema: the point columns, then the `tsday` partition
    * column (partition values live in directory names, so its type
    * exists only here). */
  val schema: StructType = Gts.pointSchema.add(StructField("tsday", LongType))

  /** Write points in the canonical at-rest layout. The input must have
    * exactly `Gts.pointSchema`'s columns, in order and with its types
    * (nullability aside), so [[schema]] describes every file written. */
  def write(points: DataFrame, path: String): Unit = {
    requirePointSchema(points)
    points
      .withColumn("tsday", (col("ts") / DayMicros).cast("long"))
      .repartition(col("tsday"))
      .sortWithinPartitions(col("gtsid"), col("ts"))
      .write.mode("overwrite")
      .partitionBy("tsday")
      .parquet(path)
  }

  /** Schema equality on the driver (no job): names, order and types. */
  private def requirePointSchema(points: DataFrame): Unit = {
    def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    val want = shape(Gts.pointSchema)
    val got = shape(points.schema)
    if (got != want) {
      val wantTypes = want.toMap
      val gotTypes = got.toMap
      val problems = Seq(
        "extra" -> got.collect { case (n, _) if !wantTypes.contains(n) => n },
        "missing" -> want.collect { case (n, _) if !gotTypes.contains(n) => n },
        "mistyped" -> got.collect { case (n, t) if wantTypes.get(n).exists(_ != t) =>
          s"$n: $t (expected ${wantTypes(n)})" })
        .collect { case (k, cols) if cols.nonEmpty => s"$k column(s) ${cols.mkString(", ")}" }
      throw new IllegalArgumentException(
        "LongTable.write: input does not match Gts.pointSchema: " +
          (if (problems.isEmpty) s"column order ${got.map(_._1).mkString(", ")}"
          else problems.mkString("; ")) + " (normalize with Gts.canonical)")
    }
  }

  /** The lake under the declared [[schema]]: planning lists the
    * directories but runs no Spark job. An empty lake is an empty
    * frame. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** FETCH-range scan: the tsday predicate prunes partitions, the ts
    * predicate prunes row groups; both reach the scan node. */
  def fetchRange(spark: SparkSession, path: String,
                 startTs: Long, endTs: Long): DataFrame =
    read(spark, path)
      .filter(col("tsday") >= startTs / DayMicros &&
        col("tsday") <= endTs / DayMicros)
      .filter(col("ts") >= startTs && col("ts") <= endTs)
      .drop("tsday")

  /** Bucketed at-rest layout: `bucketBy(gtsid)` + per-bucket
    * (gtsid, ts) sort. Every per-series operator (window specs,
    * groupBy(gtsid) aggregations, series-aligned self-joins) then
    * plans WITHOUT an Exchange — the scan itself satisfies the
    * clustered distribution, which is the single biggest shuffle in a
    * per-series workload at 100 TB. Size `buckets` ≈ cluster cores ×
    * a small factor; co-bucketed tables join shuffle-free.
    * (External table: data lives at `path`, metadata in the session
    * catalog under `table`.) */
  def writeBucketed(points: DataFrame, table: String, path: String,
                    buckets: Int): Unit =
    points.write.mode("overwrite")
      .bucketBy(buckets, "gtsid")
      .sortBy("gtsid", "ts")
      .option("path", path)
      .saveAsTable(table)

  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
