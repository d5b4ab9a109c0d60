package graft

import graft.ops.Events
import org.apache.spark.sql.functions._

/** As-of join and sessionization semantics on controlled inputs. */
class EventsSpec extends SparkTestBase {
  import spark.implicits._

  test("asofJoin: backward-inclusive match, no-match null, per-key isolation") {
    val left = Seq((1L, 100L, 10L), (1L, 101L, 25L), (2L, 200L, 5L))
      .toDF("k", "id", "ts")
    val right = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
      (2L, 6L, 9.0)).toDF("k", "rts", "v")
    val got = Events.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("rts", "v"), prefix = "m_")
      .orderBy("id").select("id", "m_rts", "m_v")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got === Array(
      (100L, Some(10L), Some(1.0)),  // equal ts matches (inclusive)
      (101L, Some(20L), Some(2.0)),  // latest at-or-before, not later
      (200L, None, None)))           // key 2: right ts=6 > left ts=5
  }

  test("asofJoin: right rows never leak and left columns survive") {
    val left = Seq((1L, 7L, 50L, "x")).toDF("k", "id", "ts", "tag")
    val right = Seq((1L, 40L, 4.0)).toDF("k", "rts", "v")
    val out = Events.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("v"))
    assert(out.columns.toSeq === Seq("k", "id", "ts", "tag", "asof_v"))
    assert(out.count() === 1)
  }

  test("asofJoin directions: forward earliest-at-or-after, nearest ties backward") {
    val left = Seq((1L, 100L, 10L), (1L, 101L, 25L), (1L, 102L, 31L),
      (2L, 200L, 5L)).toDF("k", "id", "ts")
    val right = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
      (2L, 6L, 9.0)).toDF("k", "rts", "v")
    def run(dir: String) =
      Events.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("v"),
        prefix = "m_", direction = dir)
        .orderBy("id").select("id", "m_v").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(run("forward").toSeq === Seq(
      (100L, Some(1.0)),  // ts 10: equal-ts right row matches (inclusive)
      (101L, Some(3.0)),  // ts 25: earliest at-or-after is 30
      (102L, None),       // ts 31: nothing after
      (200L, Some(9.0)))) // ts 5: right at 6 is ahead
    assert(run("nearest").toSeq === Seq(
      (100L, Some(1.0)),  // exact hit
      (101L, Some(2.0)),  // |25-20| == |30-25|: tie -> backward
      (102L, Some(3.0)),  // only backward exists
      (200L, Some(9.0)))) // only forward exists
  }

  test("asofJoin tolerance: bounds every direction, inclusive at the bound") {
    val left = Seq((1L, 100L, 10L), (1L, 101L, 25L), (1L, 102L, 31L),
      (2L, 200L, 5L)).toDF("k", "id", "ts")
    val right = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
      (2L, 6L, 9.0)).toDF("k", "rts", "v")
    def run(dir: String, tol: Long) =
      Events.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("v"),
        prefix = "m_", direction = dir, tolerance = Some(tol))
        .orderBy("id").select("id", "m_v").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(run("backward", 1L).toSeq === Seq(
      (100L, Some(1.0)),  // exact hit, distance 0
      (101L, None),       // latest-before is 20, distance 5 > 1
      (102L, Some(3.0)),  // distance 1 — INCLUSIVE at the bound
      (200L, None)))      // nothing at-or-before
    assert(run("forward", 5L).toSeq === Seq(
      (100L, Some(1.0)),  // distance 0
      (101L, Some(3.0)),  // earliest-after is 30, distance 5 inclusive
      (102L, None),       // nothing after
      (200L, Some(9.0)))) // distance 1
    assert(run("nearest", 4L).toSeq === Seq(
      (100L, Some(1.0)),  // exact hit
      (101L, None),       // both candidates at distance 5 > 4
      (102L, Some(3.0)),  // backward distance 1
      (200L, Some(9.0)))) // forward distance 1
  }

  test("rollingAgg: range frame includes span boundary and drops older rows") {
    val df = Seq((1L, 1L, 0L, 10L), (1L, 2L, 100L, 20L), (1L, 3L, 150L, 30L),
      (2L, 4L, 0L, 5L)).toDF("k", "id", "ts", "v")
    val got = Events.rollingAgg(df, "k", "ts", "v", span = 100L)
      .orderBy("id").select("id", "roll_n", "roll_sum", "roll_mean")
      .as[(Long, Long, Long, Double)].collect()
    assert(got === Array(
      (1L, 1L, 10L, 10.0),
      (2L, 2L, 30L, 15.0),   // ts 0 is exactly span away — included
      (3L, 2L, 50L, 25.0),   // ts 0 aged out, 100+150 in
      (4L, 1L, 5L, 5.0)))
  }

  test("asofJoinSkewed ≡ asofJoin: bit-equal on random data across " +
    "directions × tolerance × span widths (r14 skew escalation)") {
    val rnd = new scala.util.Random(7)
    val left = (0 until 300).map { i =>
      (rnd.nextInt(3).toLong, i.toLong, rnd.nextInt(500).toLong - 250L)
    }.toDF("k", "id", "ts")
    // right unique per (key, ts) — the shared as-of contract
    val right = (0 until 200).map { i =>
      (rnd.nextInt(3).toLong, rnd.nextInt(500).toLong - 250L, rnd.nextDouble())
    }.distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      .toDF("k", "rts", "v")
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(40L));
         span <- Seq(1L, 13L, 100L, 5000L)) {
      val want = Events.asofJoin(left, right, Seq("k"), "ts", "rts",
          Seq("rts", "v"), prefix = "m_", direction = dir, tolerance = tol)
        .collect().map(_.toSeq).sortBy(_.toString)
      val got = Events.asofJoinSkewed(left, right, Seq("k"), "ts", "rts",
          Seq("rts", "v"), span = span, prefix = "m_", direction = dir,
          tolerance = tol)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(got === want, s"direction=$dir tolerance=$tol span=$span")
    }
  }

  test("asofJoinSkewed: null group keys keep their carries across " +
    "blocks, matching the plain window's null-partition semantics") {
    val left = Seq((Option.empty[Long], 1L, 1000L), (Some(7L), 2L, 1000L))
      .toDF("k", "id", "ts")
    val right = Seq((Option.empty[Long], 10L, 1.0), (Some(7L), 10L, 2.0))
      .toDF("k", "rts", "v")
    for (span <- Seq(100L, 5000L)) {
      val want = Events.asofJoin(left, right, Seq("k"), "ts", "rts",
        Seq("v")).collect().map(_.toSeq).sortBy(_.toString)
      val got = Events.asofJoinSkewed(left, right, Seq("k"), "ts", "rts",
        Seq("v"), span = span).collect().map(_.toSeq).sortBy(_.toString)
      assert(got === want, s"span=$span")
    }
  }

  test("asofJoinSkewed: left blocks with no in-block right rows reach " +
    "across empty blocks to the nearest non-empty one") {
    val left = Seq((1L, 1L, 1000L), (1L, 2L, 5000L)).toDF("k", "id", "ts")
    val right = Seq((1L, 10L, 9.0)).toDF("k", "rts", "v")
    val got = Events.asofJoinSkewed(left, right, Seq("k"), "ts", "rts",
        Seq("v"), span = 100L)   // right in block 0; lefts in 10 and 50
      .orderBy("id").select("id", "asof_v")
      .as[(Long, Double)].collect()
    assert(got === Array((1L, 9.0), (2L, 9.0)))
  }

  test("sessionizeSkewed ≡ sessionize: bit-equal on random data with " +
    "ties, negative ts, across gap × span (r14 skew escalation)") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 400).map { i =>
      (rnd.nextInt(3).toLong, i.toLong, rnd.nextInt(600).toLong - 300L)
    }.toDF("k", "id", "ts")
    for (gap <- Seq(0L, 5L, 50L); span <- Seq(1L, 17L, 200L, 10000L)) {
      val want = Events.sessionize(df, "k", "ts", "id", gap)
        .select("k", "id", "ts", "session_id")
        .collect().map(_.toSeq).sortBy(_.toString)
      val got = Events.sessionizeSkewed(df, "k", "ts", "id", gap, span)
        .select("k", "id", "ts", "session_id")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(got === want, s"gap=$gap span=$span")
    }
  }

  test("rollingAggSkewed ≡ rollingAgg: bit-equal on random data with " +
    "ties, null values, negative ts, across span widths (r14 skew " +
    "escalation)") {
    // also null keys and null ts: the fold's group and run boundaries
    // must match the window's null partition and null-ts peers
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      // negatives + many ties
      val ts: java.lang.Long =
        if (rnd.nextInt(20) == 0) null else rnd.nextInt(400).toLong - 200L
      val k: java.lang.Long =
        if (rnd.nextInt(8) == 0) null else rnd.nextInt(3).toLong
      val v: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else rnd.nextInt(100).toLong
      (k, i.toLong, ts, v)
    }
    val df = rows.toDF("k", "id", "ts", "v")
    for (span <- Seq(1L, 7L, 100L, 1000L)) {
      val wantDf = Events.rollingAgg(df, "k", "ts", "v", span)
      val gotDf = Events.rollingAggSkewed(df, "k", "ts", "v", span)
      assert(gotDf.schema === wantDf.schema, s"span=$span")
      val want = wantDf
        .select("k", "id", "ts", "v", "roll_n", "roll_sum", "roll_mean")
        .collect().map(_.toSeq).sortBy(_.toString)
      val got = gotDf
        .select("k", "id", "ts", "v", "roll_n", "roll_sum", "roll_mean")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(got === want, s"span=$span")
    }
  }

  test("rollingAggSkewed: a double frame sum never cancels an evicted " +
    "value into the result") {
    // 1e20 leaves the frame of ts 25 ([5, 25]); a running sum that
    // subtracts it would read (1e20 + 1.0) - 1e20 = 0.0
    val df = Seq((1L, 0L, 1e20), (1L, 25L, 1.0), (1L, 26L, 2.0))
      .toDF("k", "ts", "v")
    def sums(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("ts").select("roll_sum").as[Double].collect().toSeq
    val want = sums(Events.rollingAgg(df, "k", "ts", "v", span = 20L))
    assert(want === Seq(1e20, 1.0, 3.0))
    assert(sums(Events.rollingAggSkewed(df, "k", "ts", "v", span = 20L)) ===
      want)
  }

  test("rollingAggSkewed: no partition keyed by the bare key — every " +
    "Exchange carries the time block or the ts (the skew-immunity " +
    "contract)") {
    val df = (0 until 100).map(i => (i % 3L, i.toLong, i.toLong * 5, 1L))
      .toDF("k", "id", "ts", "v")
    val skewed = Events.rollingAggSkewed(df, "k", "ts", "v", span = 50L)
    val plan = skewed.queryExecution.executedPlan.toString
    // plain rollingAgg partitions hashpartitioning(k#..., n); the
    // skewed variant must never plan a single-column key partition
    val bareKey = "hashpartitioning\\(k#\\d+, \\d+\\)".r
    assert(bareKey.findFirstIn(plan).isEmpty, plan)
    // and it moves the rows once: the (key, block) halo exchange
    assert(graft.api.Layout.shuffleExchanges(skewed) === 1, plan)
  }

  test("plan pinning: event operators run exactly one hash Exchange") {
    val left = (0 until 200).map(i => (i % 5L, i.toLong, i.toLong * 3))
      .toDF("k", "id", "ts")
    val right = (0 until 100).map(i => (i % 5L, i.toLong * 7, i.toDouble))
      .toDF("k", "rts", "v")
    val ex = "Exchange hashpartitioning".r
    val asof = Events.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("v"))
    assert(ex.findAllIn(asof.queryExecution.executedPlan.toString).size === 1,
      asof.queryExecution.executedPlan.toString)
    val sess = Events.sessionize(left, "k", "ts", "id", gap = 10L)
    assert(ex.findAllIn(sess.queryExecution.executedPlan.toString).size === 1,
      sess.queryExecution.executedPlan.toString)
    val roll = Events.rollingAgg(left.withColumn("v", lit(1L)),
      "k", "ts", "v", span = 10L)
    assert(ex.findAllIn(roll.queryExecution.executedPlan.toString).size === 1,
      roll.queryExecution.executedPlan.toString)
  }

  test("rangeJoin: inclusive bounds, bucket-boundary pairs, keyed and keyless") {
    val left = Seq((1L, 100L), (2L, 250L), (3L, 1000L)).toDF("lid", "ts")
    val right = Seq((10L, 0L), (11L, 100L), (12L, 199L), (13L, 200L),
      (14L, 201L), (15L, 999L)).toDF("rid", "rts")
    // window [ts - 100, ts]: boundary pairs on both ends must survive
    val got = Events.rangeJoin(left, right, "ts", "rts",
      lower = -100L, upper = 0L, payload = Seq("rid"))
      .select("lid", "rj_rid").as[(Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 10L), (1L, 11L),            // [0,100]: both boundary rows in
      (2L, 12L), (2L, 13L), (2L, 14L), // [150,250]: 199/200/201 in
      (3L, 15L)))                      // [900,1000]: 999 in
    // no cartesian/BNL in the plan: the join must be a hash equi-join
    val plan = Events.rangeJoin(left, right, "ts", "rts", -100L, 0L, Seq("rid"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // keyed: same ts windows but keys partition the matches
    val lk = Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("lid", "k", "ts")
    val rk = Seq((10L, "a", 50L), (11L, "b", 60L)).toDF("rid", "k", "rts")
    val gotK = Events.rangeJoin(lk, rk, "ts", "rts", -100L, 0L,
      payload = Seq("rid"), keys = Seq("k"))
      .select("lid", "rj_rid").as[(Long, Long)].collect().toSet
    assert(gotK === Set((1L, 10L), (2L, 11L)))
    // negative timestamps: floor (not truncate-toward-zero) bucketing
    val ln = Seq((1L, -50L)).toDF("lid", "ts")
    val rn = Seq((10L, -149L), (11L, -150L), (12L, -151L)).toDF("rid", "rts")
    val gotN = Events.rangeJoin(ln, rn, "ts", "rts", -100L, 0L, Seq("rid"))
      .select("lid", "rj_rid").as[(Long, Long)].collect().toSet
    assert(gotN === Set((1L, 10L), (1L, 11L))) // -151 out of [-150, -50]
  }

  test("sessionize: gap cuts, ties ordered by tiebreak, 1-based ids") {
    val df = Seq(
      (1L, 1L, 0L), (1L, 2L, 50L), (1L, 3L, 200L), // gap 150 > 100 cuts
      (1L, 4L, 210L),
      (2L, 5L, 0L)) // separate key restarts at 1
      .toDF("k", "id", "ts")
    val got = Events.sessionize(df, "k", "ts", "id", gap = 100L)
      .orderBy("k", "ts").select("id", "session_id")
      .as[(Long, Long)].collect()
    assert(got === Array((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 1L)))
  }

  test("skewed tier argument rejection: non-positive spans and negative " +
    "gaps fail fast at plan time, never inside a task") {
    val df = Seq((1L, 1L, 0L, 1.0)).toDF("k", "id", "ts", "v")
    for (span <- Seq(0L, -5L)) {
      intercept[IllegalArgumentException] {
        Events.rollingAggSkewed(df, "k", "ts", "v", span)
      }
      intercept[IllegalArgumentException] {
        Events.sessionizeSkewed(df, "k", "ts", "id", gap = 10L, span = span)
      }
      intercept[IllegalArgumentException] {
        Events.asofJoinSkewed(df, df, Seq("k"), "ts", "ts", Seq("v"),
          span = span)
      }
    }
    intercept[IllegalArgumentException] {
      Events.rollingAgg(df, "k", "ts", "v", span = -1L)
    }
    // the skewed fold's block and frame arithmetic is integral
    intercept[IllegalArgumentException] {
      Events.rollingAggSkewed(df.withColumn("ts", col("ts").cast("double")),
        "k", "ts", "v", span = 10L)
    }
    intercept[IllegalArgumentException] {
      Events.sessionizeSkewed(df, "k", "ts", "id", gap = -1L, span = 10L)
    }
  }
}
