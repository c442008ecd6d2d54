package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine
import graft.surface.RestFacade

/** Real HTTP round-trips through the /api/v0 façade: fetch with a
  * selector + range in each format, exec with a WarpScript program. */
class RestFacadeSpec extends SparkSpec {

  private def fixture: GtsFrame = fixtureOf(
    ("m.cpu", Map("host" -> "a"), 100L, 1.0),
    ("m.cpu", Map("host" -> "b"), 200L, 2.0),
    ("m.mem", Map("host" -> "a"), 300L, 3.0))

  private def fixtureOf(points: (String, Map[String, String], Long, Double)*) = {
    import spark.implicits._
    GtsFrame(Gts.canonical(points.toSeq
      .toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))))
  }

  private def get(url: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    (code, new String(is.readAllBytes(), UTF_8))
  }

  private def post(url: String, body: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.getOutputStream.write(body.getBytes(UTF_8))
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    (code, new String(is.readAllBytes(), UTF_8))
  }

  test("fetch: selector + range + formats over real HTTP") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    try {
      val (c1, text) = get(s"http://127.0.0.1:$port/api/v0/fetch" +
        "?selector=m.cpu%7Bhost=a%7D&start=0&stop=1000")
      assert(c1 == 200)
      assert(text.trim == "100// m.cpu{host=a} 1.0")
      // format=json is the reference jsonDump shape (EgressFetchHandler
      // .jsonDump, pinned by EgressFetchHandlerTest's fixtures): a JSON
      // array of series objects with variable-arity point tuples —
      // an unlocated, unelevated point is [ts,value]
      val (_, json) = get(s"http://127.0.0.1:$port/api/v0/fetch" +
        "?selector=~m..*&start=150&stop=1000&format=json")
      assert(json.startsWith("[{") && json.endsWith("]}]"))
      assert(json.contains("\"c\":\"m.cpu\"") && json.contains("\"c\":\"m.mem\""))
      assert(json.contains("\"l\":{\"host\":\"b\"}"))
      assert(json.contains("\"a\":{}") && json.contains("\"la\":0"))
      assert(json.contains("\"v\":[[200,2.0]]"))
      assert(json.contains("\"v\":[[300,3.0]]"))
      val (_, tsv) = get(s"http://127.0.0.1:$port/api/v0/fetch" +
        "?selector=~.*&start=0&stop=1000&format=tsv")
      assert(tsv.split("\n").toSeq.sorted ==
        Seq("100\t1.0", "200\t2.0", "300\t3.0"))
      // a range is mandatory (computeTimeRange: missing start/end)
      val (cNoRange, _) = get(s"http://127.0.0.1:$port/api/v0/fetch" +
        "?selector=~.*&format=tsv")
      assert(cNoRange == 400)
      // two end aliases at once are rejected (EgressFetchHandler:355-369)
      val (cTwoEnds, _) = get(s"http://127.0.0.1:$port/api/v0/fetch" +
        "?selector=~.*&start=0&stop=1000&end=1000")
      assert(cTwoEnds == 400)
      // end+count without start/timespan is valid (count mandatory rule)
      val (cEndCount, ec) = get(s"http://127.0.0.1:$port/api/v0/fetch" +
        "?selector=~.*&end=1000&count=1&format=tsv")
      assert(cEndCount == 200 && ec.split("\n").toSeq.sorted ==
        Seq("100\t1.0", "200\t2.0", "300\t3.0"))
    } finally facade.stop()
  }

  test("fetch: stop/now/end alias the range end; inverted bounds swap; " +
    "duration timespans parse; contradictory/overflow ranges 400") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    val base = s"http://127.0.0.1:$port/api/v0/fetch"
    try {
      // start+end and start+now are aliases of start+stop
      val (cA, viaEnd) = get(s"$base?selector=m.cpu%7Bhost=a%7D&start=0&end=1000")
      assert(cA == 200 && viaEnd.trim == "100// m.cpu{host=a} 1.0")
      val (cB, viaNow) = get(s"$base?selector=m.cpu%7Bhost=a%7D&start=0&now=1000")
      assert(cB == 200 && viaNow.trim == viaEnd.trim)
      // inverted explicit bounds swap (the reference normalizes, not 400s)
      val (cC, swapped) = get(s"$base?selector=m.cpu%7Bhost=a%7D&start=1000&stop=0")
      assert(cC == 200 && swapped.trim == viaEnd.trim)
      // ISO-8601 duration timespan: PT1S = 1e6 time units back from end
      val (cD, dur) = get(s"$base?selector=~m..*&end=300&timespan=PT1S")
      assert(cD == 200 && dur.split("\n").length == 3)
      // start + timespan: end = start + timespan - 1 (computeTimeRange)
      val (cD2, fwd) = get(s"$base?selector=m.cpu%7Bhost=a%7D&start=0&timespan=1001")
      assert(cD2 == 200 && fwd.trim == viaEnd.trim)
      // negative timespan IS a count — combining with count is rejected
      val (cE, _) = get(s"$base?selector=~.*&end=1000&timespan=-2&count=1")
      assert(cE == 400)
      // timespan 0 at end MAX_VALUE would overflow start past MAX — 400
      val (cF, _) = get(s"$base?selector=~.*&end=${Long.MaxValue}&timespan=0")
      assert(cF == 400)
    } finally facade.stop()
  }

  test("fetch: out-of-range paging params are a 400 with FETCH's bound message") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    val base = s"http://127.0.0.1:$port/api/v0/fetch?selector=~.*&start=0&stop=1000"
    try {
      for ((param, min) <- Seq("gcount=-3" -> 0, "gskip=-1" -> 0, "step=0" -> 1)) {
        val (code, body) = get(s"$base&$param")
        val k = param.takeWhile(_ != '=')
        assert(code == 400, s"$param: $code $body")
        assert(body.contains(s"FETCH Parameter '$k' must be >= $min."), body)
      }
      // in-range paging still answers
      val (ok, page) = get(s"$base&gskip=1&gcount=1&format=tsv")
      assert(ok == 200 && page.split("\n").count(_.nonEmpty) == 1, page)
    } finally facade.stop()
  }

  test("exec: WarpScript program over real HTTP returns stack JSON") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    try {
      val (code, body) = post(s"http://127.0.0.1:$port/api/v0/exec",
        "[ 'm.cpu' { } 1000 1001 ] FETCH\n2 2 +")
      assert(code == 200)
      assert(body.startsWith("[4,[")) // top of stack first: the scalar
      assert(body.contains("\"c\":\"m.cpu\""))
      val (c2, err) = post(s"http://127.0.0.1:$port/api/v0/exec", "NOSUCHWORD")
      assert(c2 == 400 && err.startsWith("error:"))
      // control characters in string stack values must be JSON-escaped:
      // base64 of "line1\nline2" smuggles a newline past the tokenizer
      val b64 = java.util.Base64.getEncoder.encodeToString(
        "line1\nline2".getBytes(UTF_8))
      val (c3, esc) = post(s"http://127.0.0.1:$port/api/v0/exec",
        s"'$b64' B64TO 'UTF-8' BYTES->")
      assert(c3 == 200)
      assert(esc == "[\"line1\\nline2\"]")
      // maps render as JSON objects, non-finite doubles as null
      val (c4, obj) = post(s"http://127.0.0.1:$port/api/v0/exec",
        "{ 'a' 1 'b' 2.5 }")
      assert(c4 == 200 && obj == "[{\"a\":1,\"b\":2.5}]")
      val (c5, nan) = post(s"http://127.0.0.1:$port/api/v0/exec", "NaN")
      assert(c5 == 200 && nan == "[null]")
      // >4-entry maps render with SORTED keys (scala hash order is
      // nondeterministic across JVMs at that size)
      val (c6, big) = post(s"http://127.0.0.1:$port/api/v0/exec",
        "{ 'e' 5 'a' 1 'c' 3 'b' 2 'd' 4 }")
      assert(c6 == 200 &&
        big == "[{\"a\":1,\"b\":2,\"c\":3,\"d\":4,\"e\":5}]")
    } finally facade.stop()
  }

  test("exec: REDUCE and APPLY results render with their group labels") {
    // four series on one tick, two classes × two hosts in one dc
    val f = fixtureOf(
      ("m.cpu", Map("host" -> "a", "dc" -> "x"), 100L, 1.0),
      ("m.cpu", Map("host" -> "b", "dc" -> "x"), 100L, 2.0),
      ("m.mem", Map("host" -> "a", "dc" -> "x"), 100L, 5.0),
      ("m.mem", Map("host" -> "b", "dc" -> "x"), 100L, 7.0))
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    val exec = s"http://127.0.0.1:$port/api/v0/exec"
    // the flattened (bylabels..., ts, vdouble) frame has no class or
    // labels column: c renders "", l holds the group-by labels
    def rows(body: String) = body.stripPrefix("[[").stripSuffix("]]")
      .split("(?<=\\}),(?=\\{\"c\")").toSeq.sorted
    try {
      val (cr, reduced) = post(exec,
        "[ [ 'm.cpu' { } 1000 1001 ] FETCH [ 'dc' ] reducer.sum ] REDUCE")
      assert(cr == 200, reduced)
      assert(rows(reduced) == Seq("""{"c":"","l":{"dc":"x"},"t":100,"v":3.0}"""))
      val (ca, applied) = post(exec,
        "[ [ [ 'm.cpu' { } 1000 1001 ] FETCH ] [ [ 'm.mem' { } 1000 1001 ] FETCH ] " +
          "[ 'host' ] op.sub ] APPLY")
      assert(ca == 200, applied)
      assert(rows(applied) == Seq(
        """{"c":"","l":{"host":"a"},"t":100,"v":-4.0}""",
        """{"c":"","l":{"host":"b"},"t":100,"v":-5.0}"""))
    } finally facade.stop()
  }

  test("update/delete/meta/find: session overlay over real HTTP") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v0"
      // update: session write shows up in subsequent fetches
      val (cu, _) = post(s"$base/update",
        "400// m.cpu{host=c} 9.0\n=500// 10.0")
      assert(cu == 200)
      val (_, t1) = get(s"$base/fetch?selector=m.cpu%7Bhost=c%7D&start=0&stop=1000&format=tsv")
      assert(t1.split("\n").toSeq.sorted == Seq("400\t9.0", "500\t10.0"))
      // find: one class{labels}{attributes} line per series
      val (cf, found) = get(s"$base/find?selector=~m.cpu.*")
      assert(cf == 200)
      assert(found.split("\n").toSeq.sorted == Seq(
        "m.cpu{host=a}{}", "m.cpu{host=b}{}", "m.cpu{host=c}{}"))
      // meta: attribute upsert with delta semantics (empty removes)
      val (cm, _) = post(s"$base/meta", "m.cpu{host=c}{unit=ms,owner=ops}")
      assert(cm == 200)
      val (_, f2) = get(s"$base/find?selector=m.cpu%7Bhost=c%7D")
      assert(f2.trim == "m.cpu{host=c}{owner=ops,unit=ms}")
      val (cm2, _) = post(s"$base/meta", "m.cpu{host=c}{owner=}")
      assert(cm2 == 200)
      val (_, f3) = get(s"$base/find?selector=m.cpu%7Bhost=c%7D")
      assert(f3.trim == "m.cpu{host=c}{unit=ms}")
      // delete: reports touched series, then the range is gone
      val (cd, deleted) = get(
        s"$base/delete?selector=m.cpu%7Bhost=c%7D&start=450&end=600")
      assert(cd == 200 && deleted.trim == "m.cpu{host=c}")
      val (_, t2) = get(s"$base/fetch?selector=m.cpu%7Bhost=c%7D&start=0&stop=1000&format=tsv")
      assert(t2.split("\n").toSeq.filter(_.nonEmpty) == Seq("400\t9.0"))
      // deleteall removes the series entirely → find no longer lists it
      val (cd2, _) = get(
        s"$base/delete?selector=m.cpu%7Bhost=c%7D&deleteall=true")
      assert(cd2 == 200)
      val (_, f4) = get(s"$base/find?selector=~m.cpu.*")
      assert(f4.split("\n").toSeq.sorted ==
        Seq("m.cpu{host=a}{}", "m.cpu{host=b}{}"))
      // missing params → 400
      val (ce, _) = get(s"$base/delete?selector=m.cpu%7Bhost=a%7D")
      assert(ce == 400)
    } finally facade.stop()
  }

  test("delete on a label other series lack must not touch them (3VL)") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v0"
      post(s"$base/update", "700// m.usr{host=a,user=1} 4.0")
      val (cd, deleted) = get(
        s"$base/delete?selector=~.*%7Buser~1.*%7D&deleteall=true")
      assert(cd == 200 && deleted.trim == "m.usr{host=a,user=1}")
      // the base series have no 'user' label: the selector verdict is
      // NULL for them and they must survive the delete
      val (_, tsv) = get(s"$base/fetch?selector=~.*&start=0&stop=1000&format=tsv")
      assert(tsv.split("\n").toSeq.sorted ==
        Seq("100\t1.0", "200\t2.0", "300\t3.0"))
    } finally facade.stop()
  }

  test("find with an attribute selector filters on overlay attributes") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v0"
      post(s"$base/meta", "m.cpu{host=a}{unit=ms}")
      val (c1, hit) = get(s"$base/find?selector=~m.cpu.*%7B%7D%7Bunit=ms%7D")
      assert(c1 == 200 && hit.trim == "m.cpu{host=a}{unit=ms}")
      val (c2, miss) = get(s"$base/find?selector=~m.cpu.*%7B%7D%7Bunit=zz%7D")
      assert(c2 == 200 && miss.trim.isEmpty)
    } finally facade.stop()
  }

  test("attribute matches past the maxRows class window still surface") {
    val f = fixture
    // maxRows=2: the class/label scan alone would truncate to the two
    // m.cpu series and miss the attributed m.mem one
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)),
      maxRows = 2)
    val port = facade.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v0"
      post(s"$base/meta", "m.mem{host=a}{unit=ms}")
      val (c1, hit) = get(s"$base/find?selector=~.*%7B%7D%7Bunit=ms%7D")
      assert(c1 == 200 && hit.trim == "m.mem{host=a}{unit=ms}")
    } finally facade.stop()
  }

  test("update rejects malformed line protocol instead of dropping it") {
    val f = fixture
    val facade = new RestFacade(f,
      () => new WarpScriptEngine(
        (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b)))
    val port = facade.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v0"
      val (code, body) = post(s"$base/update",
        "800// m.ok{h=a} 1.0\nthis is not line protocol")
      assert(code == 400 && body.contains("bad line protocol"))
      // the failed request must not have partially applied
      val (_, tsv) = get(s"$base/fetch?selector=m.ok%7B%7D&start=0&stop=1000&format=tsv")
      assert(tsv.trim.isEmpty)
    } finally facade.stop()
  }
}
