package graft

import org.apache.spark.sql.functions._

import graft.operators.RankOps

/** Plan-shape assertions: the scale-sensitive rewrites must keep their
  * distributed physical form (a regression back to a global-window
  * row_number would silently reintroduce a single-partition sort).
  */
class ExplainSpec extends SparkSpec {

  /** Executed-plan text with InMemoryRelation cached subtrees elided.
    * A lazy persist() reprints its cached CHILD plan under the
    * InMemoryRelation node — operators in that reprint (e.g. a bounded
    * broadcast-K crossJoin inside an ANN index build) are not what
    * executes at this node, so shape assertions must not match them. */
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val full = df.queryExecution.executedPlan.toString
    def depth(l: String): Int = l.indexWhere(c => c.isLetter || c.isDigit)
    val out = new StringBuilder
    var skipBelow = -1
    full.linesIterator.foreach { l =>
      val d = depth(l)
      if (skipBelow >= 0 && d >= 0 && d <= skipBelow) skipBelow = -1
      if (skipBelow < 0) {
        out.append(l).append('\n')
        if (l.contains("InMemoryRelation")) skipBelow = d
      }
    }
    out.toString
  }

  /** Full executed-plan text INCLUDING cached subtrees — for positive
    * assertions about operators that live under a persist (globalRank's
    * range exchange); the cached plan does execute, once, to populate
    * the cache. */
  private def fullPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def sample = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("id", "v")
  }

  test("topK plans as TakeOrderedAndProject, not a global window sort") {
    val df = RankOps.topK(sample, Seq(col("v").desc, col("id")), 5)
    assert(plan(df).contains("TakeOrderedAndProject"))
    val got = df.select("id", "v", "rk").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._3)
    assert(got.map(_._3).toSeq == Seq(1, 2, 3, 4, 5))
    // ground truth: sort locally
    val truth = sample.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, v) => (-v, id) }.take(5)
    assert(got.map(t => (t._1, t._2)).toSeq == truth.toSeq)
  }

  test("globalRank ranges-partitions the sort and matches a local sort") {
    val df = RankOps.globalRank(sample, Seq(col("v").desc, col("id")), numParts = 7)
    assert(fullPlan(df).toLowerCase.contains("rangepartitioning"))
    val got = df.select("id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val truth = sample.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, v) => (-v, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    assert(got == truth)
  }

  test("banded simhash near-dup: equality-key joins, no nested-loop; exact vs brute force") {
    import spark.implicits._
    // doc 1/2 differ in 3 bits, doc 3 is far from both
    val sig = Seq((1L, 0x0F0F0F0FL), (2L, 0x0F0F0F08L), (3L, 0x70F0F0F0L))
      .toDF("doc_id", "simhash")
    val banded = graft.text.TextOps.simhashNearDupBanded(sig, 32, 8)
    val p = plan(banded)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rows = sig.collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 8
    } yield (ia, ib, d)).toSet
    assert(got == truth)
  }

  test("default minhash top-pairs path plans no nested-loop join at any N") {
    import spark.implicits._
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta w$i x${i % 7} y${i % 3} z${i % 2}"))
      .toDF("doc_id", "text")
    val df = graft.text.TextOps.minhashTopPairsBanded(docs, "text", 3, 5)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // every returned pair must really be a band collision, ranked by est
    val got = df.select("ida", "idb", "est_jaccard").collect()
    assert(got.nonEmpty)
    val ests = got.map(_.getDouble(2)).toSeq
    assert(ests == ests.sorted.reverse)
  }

  test("StatOps plans: broadcast stats join, no nested-loop anywhere") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val pts = graft.model.Gts.canonical(
      (1 to 50).map(i => ("m.x", Map("user" -> (i % 5).toString), i.toLong, (i % 7).toDouble))
        .toDF("class", "labels", "ts", "vdouble")
        .withColumn("lat", lit(null).cast(DoubleType))
        .withColumn("lon", lit(null).cast(DoubleType))
        .withColumn("elev", lit(null).cast(LongType))
        .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
        .withColumn("vlong", lit(null).cast(LongType))
        .withColumn("vbool", lit(null).cast(BooleanType))
        .withColumn("vstring", lit(null).cast(StringType))
        .withColumn("vbinary", lit(null).cast(BinaryType)))
    val f = graft.operators.GtsFrame(pts)
    val z = plan(graft.operators.StatOps.zscoreFlag(f, 1.5))
    assert(z.contains("BroadcastHashJoin") || z.contains("BroadcastExchange"))
    assert(!z.contains("BroadcastNestedLoopJoin") && !z.contains("CartesianProduct"))
    val s = plan(graft.operators.StatOps.saxWords(f, 4, 4))
    assert(!s.contains("CartesianProduct"))
    val c = plan(graft.operators.StatOps.correlate(f, f, Seq("user")))
    assert(!c.contains("BroadcastNestedLoopJoin") && !c.contains("CartesianProduct"))
  }

  test("ANN plans: equality-keyed candidate joins, no cartesian anywhere") {
    import spark.implicits._
    val embs = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val multi = plan(graft.text.EmbeddingLSH.annPairsMulti(embs, 0.5, 2, 6))
    assert(!multi.contains("BroadcastNestedLoopJoin") && !multi.contains("CartesianProduct"))
    val pairs = plan(graft.text.EmbeddingLSH.annPairs(embs, 0.5))
    assert(!pairs.contains("BroadcastNestedLoopJoin") && !pairs.contains("CartesianProduct"))
  }

  test("semDeDup: the pair join is a cid-keyed semi join, never cartesian") {
    import spark.implicits._
    val embs = (0 to 39).map(i =>
      (i.toLong, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.text.IvfIndex.semDeDup(embs, 49L, 400L))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"))
  }

  test("pageIds: bounded page extent is a distributed top-K; unbounded falls back to globalRank") {
    import spark.implicits._
    val ids = (1 to 100).map(i => ((i * 37L) % 101, i)).toDF("gtsid", "x")
    // bounded extent: candidate set computed as TakeOrderedAndProject,
    // never a global-window rank over the whole match set
    val bounded = graft.operators.GtsFrame.pageIds(ids, 3, 4)
    assert(plan(bounded).contains("TakeOrderedAndProject"))
    val got = bounded.collect().map(_.getLong(0)).sorted
    val truth = (1 to 100).map(i => (i * 37L) % 101).distinct.sorted
      .slice(3, 7).toArray
    assert(got.toSeq == truth.toSeq)
    // unbounded extent (gskip-only page): range-partitioned globalRank
    val unbounded = graft.operators.GtsFrame.pageIds(ids, 95, Long.MaxValue)
    assert(fullPlan(unbounded).toLowerCase.contains("rangepartitioning"))
    assert(unbounded.collect().map(_.getLong(0)).sorted.toSeq ==
      (1 to 100).map(i => (i * 37L) % 101).distinct.sorted.drop(95))
    // a negative extent is refused before it reaches limit()
    intercept[IllegalArgumentException](graft.operators.GtsFrame.pageIds(ids, 0, -3))
    intercept[IllegalArgumentException](graft.operators.GtsFrame.pageIds(ids, -1, 4))
  }

  test("globalRank with fewer rows than partitions still ranks densely") {
    import spark.implicits._
    val tiny = Seq((1L, 2.0), (2L, 9.0), (3L, 4.0)).toDF("id", "v")
    val got = RankOps.globalRank(tiny, Seq(col("v").desc, col("id")), numParts = 8)
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == Map(2L -> 1, 3L -> 2, 1L -> 3))
  }
  test("dedup survivors: the drop-set anti-join broadcasts, never shuffles the corpus") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"src${i % 3}", i * 10)).toDF("doc_id", "source", "n_chars")
    val drops = Seq(2L, 4L).toDF("doc_id")
    val kept = docs.join(broadcast(drops), Seq("doc_id"), "left_anti")
    val p = plan(kept)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(kept.count() === 48)
  }

  test("langid classify: profile side broadcasts, no shuffle of the profile") {
    import spark.implicits._
    val train = Seq((1L, "aaab", "xx"), (2L, "bbba", "yy")).toDF("doc_id", "text", "lang")
    val prof = graft.text.LangId.profile(train, "text", "lang", 10)
    val docs = Seq((9L, "aaab")).toDF("doc_id", "text")
    val res = graft.text.LangId.classify(docs, "text", prof)
    val p = plan(res)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(res.count() >= 1)
  }

  test("pack-9 stats plans: single hash aggregations, no windows or cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val pts = graft.model.Gts.canonical(
      (1 to 60).map(i => ("m.x", Map("user" -> (i % 5).toString), i.toLong * 1000, (i % 7).toDouble))
        .toDF("class", "labels", "ts", "vdouble")
        .withColumn("lat", lit(null).cast(DoubleType))
        .withColumn("lon", lit(null).cast(DoubleType))
        .withColumn("elev", lit(null).cast(LongType))
        .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
        .withColumn("vlong", lit(null).cast(LongType))
        .withColumn("vbool", lit(null).cast(BooleanType))
        .withColumn("vstring", lit(null).cast(StringType))
        .withColumn("vbinary", lit(null).cast(BinaryType)))
    val f = graft.operators.GtsFrame(pts)
    // LR / moments / Haar: pure aggregation pipelines — a window or
    // cartesian appearing here would be a scale regression
    for (df <- Seq(graft.operators.StatOps.linReg(f, 1000L, 60000L),
        graft.operators.StatOps.momentStats(f),
        graft.operators.StatOps.haarDwt(f, 3, 1000L, 60000L),
        graft.operators.StatOps.polyFit2(f, 1000L, 60000L, 8))) {
      val p = plan(df)
      assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("bm25: global stats broadcast once, corpus side never shuffles") {
    import spark.implicits._
    val docs = (1 to 30).map(i => (i.toLong, s"spark x y$i")).toDF("doc_id", "text")
    val p = plan(graft.text.TextOps2.bm25(docs, Seq("spark", "table")))
    // the 1-row global-stats side arrives via broadcast: a nested-loop
    // join on a 1-row build side is the correct physical shape here
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  // ---- round-7 registry-tail operators ------------------------------

  private def tinyGts = {
    import spark.implicits._
    graft.model.Gts.canonical((1 to 40).map { i =>
      ("m" + (i % 3), (i % 5).toString, i.toLong, (i * 7 % 11).toDouble)
    }.toDF("class", "user", "ts", "vdouble").select(
      col("class"), map(lit("user"), col("user")).as("labels"), col("ts"),
      lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
      lit(null).cast("bigint").as("elev"),
      lit(graft.model.GtsType.DOUBLE).cast("tinyint").as("vtype"),
      lit(null).cast("bigint").as("vlong"), col("vdouble"),
      lit(null).cast("boolean").as("vbool"),
      lit(null).cast("string").as("vstring"),
      lit(null).cast("binary").as("vbinary")))
  }

  test("filterSeries anyPred: one aggregation + broadcast semi-join, " +
    "no cartesian (FilterAny at scale)") {
    val f = graft.operators.GtsFrame(tinyGts)
      .filterSeries(lit(true), Some(col("vdouble") > 5.0), negate = false)
    val p = plan(f.toDF)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("reduceArg: a single hash aggregation, no window, no join") {
    val df = graft.operators.GtsFrame(tinyGts)
      .reduceArg("user", 0, isArgmin = false, Seq.empty)
    val p = plan(df)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("PQ ADC serving path: codebooks and distance tables broadcast, " +
    "the corpus side joins on (sid, cid) keys — no cartesian") {
    import spark.implicits._
    val embs = (0L until 40L).map { i =>
      (i, (0 until 64).map(d => ((i * 37 + d * 13) % 200 - 100) / 100.0f).toArray)
    }.toDF("vec_id", "embedding")
    val p = plan(graft.text.PqIndex.adcTopK(embs, col("vec_id") < 5, 3))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("latencyFilterSeries: value-equality keys carry the join — " +
    "never a cartesian") {
    val up = graft.operators.GtsFrame(tinyGts.filter(
      col("class") === "m0" && col("labels").getItem("user") === "0"))
    val d1 = graft.operators.GtsFrame(tinyGts.filter(
      col("class") === "m1" && col("labels").getItem("user") === "1"))
    val out = up.latencyFilterSeries(Seq(d1), 0L, 1000L,
      Seq("uplink.latency.min", "downlink.matches"))
    val p = plan(out)
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop allowed is the bounded downlink-meta cross
    // (one row per downlink); the point-level join must be equality-keyed
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("incrementalNearDup: batch-vs-index band-key equality joins, " +
    "verify restricted to candidates — no cartesian anywhere") {
    import spark.implicits._
    val docs = (0L until 30L)
      .map(i => (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} w${i % 5} end"))
      .toDF("doc_id", "text")
    val idx = graft.text.TextOps3.buildNearDupIndex(
      docs.filter(col("doc_id") % 2 === 0), "text", 3)
    val out = graft.text.TextOps3.incrementalNearDup(
      docs.filter(col("doc_id") % 2 =!= 0), idx, "text", 3, 1L, 2L)
    val p = plan(out)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    out.count() // executes
  }

  test("FETCH multi-selector: one plan unioning per-selector filtered " +
    "scans; the activity gate is a semi-join, never cartesian") {
    import graft.script.WarpScriptEngine
    val f = graft.operators.GtsFrame(gtsOf(
      ("a", "u1", 10L, 1.0), ("b", "u2", 20L, 2.0), ("c", "u3", 30L, 3.0)))
    val eng = new WarpScriptEngine(
      fetch = (cls, labels, s, e) => f.select(cls, labels).timeclip(s, e),
      nowTs = 0L, session = Some(spark))
    val multi = eng.runToFrame(
      "{ 'selectors' [ 'a{}' 'b{}' ] 'end' 1000 'timespan' 1000 } FETCH")
    val p1 = plan(multi)
    assert(p1.contains("Union"), p1)
    // series-level LinkedHashSet dedup = broadcast semi-join of each
    // scan against its first-matching-selector owned ids (r11)
    assert(p1.contains("LeftSemi"), p1)
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"))
    val active = eng.runToFrame(
      "{ 'selector' '~.*{}' 'end' 1000 'timespan' 1000 " +
        "'active.after' 15000 } FETCH")
    val p2 = plan(active)
    assert(p2.contains("LeftSemi"), p2) // liveness ids prune the scan
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"))
  }

}
