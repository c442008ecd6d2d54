package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts

/** Fetch output formats (reference: /api/v0/fetch formats text/fulltext/
  * raw/wrapper/json/tsv/fulltsv, EgressFetchHandler.java:1077-1089) —
  * each format is a Column projection over the canonical long table, so
  * `df → write.text/json/csv` streams it out with no driver loop.
  */
object Formats {

  /** ISO-8601 instant → platform tick (µs). Accepts the full
    * zoned/offset form and the date-only form (midnight UTC), the two
    * shapes the reference's fetch surfaces take (FETCH.java ISO8601
    * start/end; EgressFetchHandler start/stop params). Shared by the
    * FETCH word and the HTTP facade so the two surfaces cannot drift. */
  def isoTick(s: String): Long = {
    val instant =
      try java.time.ZonedDateTime.parse(s).toInstant
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.LocalDate.parse(s)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      }
    instant.getEpochSecond * 1000000L + instant.getNano / 1000L
  }

  private val valueStr: Column = {
    val quoted = concat(lit("'"), col("vstring"), lit("'"))
    coalesce(
      col("vlong").cast(StringType),
      col("vdouble").cast(StringType),
      when(col("vbool"), "T").when(!col("vbool"), "F"),
      quoted,
      concat(lit("b64:"), base64(col("vbinary"))))
  }

  private val latlonElev: Column =
    concat(
      when(col("lat").isNotNull,
        concat(col("lat").cast(StringType), lit(":"), col("lon").cast(StringType)))
        .otherwise(""),
      lit("/"),
      coalesce(col("elev").cast(StringType), lit("")))

  private val labelsStr: Column =
    concat_ws(",", transform(array_sort(map_entries(col("labels"))),
      e => concat(e.getField("key"), lit("="), e.getField("value"))))

  /** GTS input format ("text"): `ts/lat:lon/elev class{labels} value` —
    * round-trips through [[LineProtocol]]. */
  def toGtsLines(points: DataFrame): DataFrame =
    points.select(concat(
      col("ts").cast(StringType), lit("/"), latlonElev, lit(" "),
      col("class"), lit("{"), labelsStr, lit("}"), lit(" "), valueStr)
      .as("value"))

  /** "fulltext": like text but one selector-qualified line per point
    * (class{labels} prefix kept even under compression). */
  def toFullText(points: DataFrame): DataFrame = toGtsLines(points)

  /** "json": one JSON object per point. Also renders the flattened
    * `(bylabels..., ts, vdouble|vstring)` frames REDUCE and APPLY leave
    * on the stack: absent point columns read as null, a missing class
    * as "", and missing labels are built from the non-point columns. */
  def toJsonRows(points: DataFrame): DataFrame = {
    val have = points.columns.toSet
    def opt(name: String, t: DataType): Column =
      if (have(name)) col(name) else lit(null).cast(t)
    val labels =
      if (have("labels")) col("labels")
      else points.columns.filterNot(Gts.columns.contains) match {
        case Array() => map().cast(MapType(StringType, StringType))
        case by => map(by.toSeq.flatMap(c => Seq(lit(c), col(c).cast(StringType))): _*)
      }
    points.select(to_json(struct(
      (if (have("class")) col("class") else lit("")).as("c"), labels.as("l"),
      col("ts").as("t"),
      opt("lat", DoubleType).as("lat"), opt("lon", DoubleType).as("lon"),
      opt("elev", LongType).as("elev"),
      coalesce(opt("vdouble", DoubleType), opt("vlong", LongType).cast(DoubleType)).as("v"),
      opt("vstring", StringType).as("s"), opt("vbool", BooleanType).as("b"))).as("value"))
  }

  /** "tsv": ts, value (per-series files at scale); "fulltsv" adds
    * class+labels columns. */
  def toTsv(points: DataFrame): DataFrame =
    points.select(col("ts"), valueStr.as("value"))

  def toFullTsv(points: DataFrame): DataFrame =
    points.select(col("class"), labelsStr.as("labels"), col("ts"),
      col("lat"), col("lon"), col("elev"), valueStr.as("value"))
}
