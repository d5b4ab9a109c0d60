package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("RangeJoinRewrite turns a naive keyless interval join into a " +
    "bucketed equi-join with identical results") {
    val left = (0L until 400L).map(i => (i, i * 37 % 10000)).toDF("lid", "lts")
    val right = (0L until 400L).map(i => (i, i * 91 % 10000)).toDF("rid", "rts")
    def naive = left.join(right,
      col("lts") >= col("rts") - 100 && col("lts") <= col("rts") + 100)
    val before = naive.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoopJoin") ||
      before.contains("CartesianProduct"), before)
    val expected = naive.collect().map(r =>
      (r.getLong(0), r.getLong(2))).toSet
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.RangeJoinRewrite
    try {
      val after = naive.queryExecution.executedPlan.toString
      assert(!after.contains("BroadcastNestedLoopJoin") &&
        !after.contains("CartesianProduct"), after)
      assert(after.contains("SortMergeJoin") || after.contains("HashJoin"), after)
      val got = naive.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("RangeJoinRewrite leaves equi-key joins and non-matching " +
    "conditions alone") {
    val a = Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("ak", "ats", "ap")
    val b = Seq((1L, 12L), (2L, 300L)).toDF("bk", "bts")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.RangeJoinRewrite
    try {
      // equi key present: untouched (hash join on the key), same rows
      val keyed = a.join(b, col("ak") === col("bk") &&
        col("ats") >= col("bts") - 5 && col("ats") <= col("bts") + 5)
      assert(keyed.collect().map(_.getLong(0)).toSeq === Seq(1L))
      // a one-sided (non-between) condition is not rewritten but still
      // answers correctly
      val oneSided = a.join(b, col("ats") >= col("bts"))
      assert(oneSided.count() === 1) // only (20 >= 12)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("GraftExtensions installs SQL functions and the rewrite rule in " +
    "a session built with spark.sql.extensions semantics") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base) // a genuinely new session over the same context
      // kernels reachable from plain SQL, no imports, no registration
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect().head.getDouble(0)
      assert(dot === 11.0)
      val sh = s2.sql(
        "SELECT graft_shingles(array('a','b','c'), 2) AS s")
        .collect().head.getSeq[String](0)
      assert(sh === Seq("a b", "b c"))
      // the r20 web kernels ride the same registry: robots rule match
      // (glob tier), WAT href resolution, charset-aware decode
      assert(s2.sql("SELECT graft_robots_match('/x.php', '/*.php$') AS m")
        .collect().head.getBoolean(0))
      assert(s2.sql("SELECT graft_resolve_href('img/i.png', " +
        "'https://a.com/d/p.html', NULL) AS r")
        .collect().head.getString(0) === "https://a.com/d/img/i.png")
      assert(s2.sql("SELECT graft_decode_html(" +
        "encode('café', 'ISO-8859-1'), 'text/html; charset=iso-8859-1')" +
        " AS t").collect().head.getString(0) === "café")
      // the optimizer rule rides along: a naive SQL interval join plans
      // without a nested-loop join
      import s2.implicits._
      (0L until 50L).map(i => (i, i * 13 % 300)).toDF("lid", "lts")
        .createOrReplaceTempView("ext_l")
      (0L until 50L).map(i => (i, i * 29 % 300)).toDF("rid", "rts")
        .createOrReplaceTempView("ext_r")
      val q = s2.sql("SELECT lid, rid FROM ext_l JOIN ext_r " +
        "ON lts >= rts - 10 AND lts <= rts + 10")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      assert(q.count() > 0)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("RangeJoinRewrite fuzz: random conjunct order / bound orientation / " +
    "literal placement / int-long mixes / extra predicates / self-joins " +
    "all equal the naive join; equi-keyed joins are never rewritten (r12 #6)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.{Column, DataFrame}

    // case shape: interval bounds, frame types, condition surface forms
    case class C(lo: Int, hi: Int, typ: Int, flipLower: Boolean,
                 flipUpper: Boolean, litStyle: Int, extra: Int,
                 equi: Boolean, self: Boolean, shuffleSeed: Int)
    val gen = for {
      lo <- Gen.choose(-40, 40)
      hi <- Gen.choose(-40, 40)
      typ <- Gen.choose(0, 2)         // 0: long/long, 1: int/int, 2: int/long
      fl <- Gen.oneOf(true, false)    // a >= b+lo   vs   b+lo <= a
      fu <- Gen.oneOf(true, false)
      ls <- Gen.choose(0, 2)          // e+lit | lit+e | e-lit
      ex <- Gen.choose(0, 2)          // none | one-sided | cross non-equi
      eq <- Gen.frequency(4 -> false, 1 -> true)
      se <- Gen.frequency(4 -> false, 1 -> true)
      sh <- Gen.choose(0, 1000)
    } yield C(lo, hi, typ, fl, fu, ls, ex, eq, se, sh)

    def mkLeft(typ: Int): DataFrame = typ match {
      case 1 | 2 => (0 until 60).map(i => (i, i * 37 % 400)).toDF("lid", "lts")
      case _     => (0L until 60L).map(i => (i, i * 37 % 400)).toDF("lid", "lts")
    }
    def mkRight(typ: Int, self: Boolean, left: DataFrame): DataFrame =
      if (self) left.select(col("lid").as("rid"), col("lts").as("rts"))
      else typ match {
        case 1 => (0 until 60).map(i => (i, i * 91 % 400)).toDF("rid", "rts")
        case _ => (0L until 60L).map(i => (i, i * 91 % 400)).toDF("rid", "rts")
      }

    val prev = spark.experimental.extraOptimizations
    try {
      (0 until 40).foreach { k =>
        val c = gen.pureApply(Gen.Parameters.default, Seed(k.toLong * 7919 + 3))
        val l = mkLeft(c.typ)
        val r = mkRight(c.typ, c.self, l)
        def bnd(v: Int): Column = c.litStyle match {
          case 0 => col("rts") + lit(v)
          case 1 => lit(v) + col("rts")
          case 2 => col("rts") - lit(-v)
        }
        val lower =
          if (c.flipLower) col("lts") >= bnd(c.lo) else bnd(c.lo) <= col("lts")
        val upper =
          if (c.flipUpper) col("lts") <= bnd(c.hi) else bnd(c.hi) >= col("lts")
        val extras: Seq[Column] = c.extra match {
          case 1 => Seq(col("lid") % 2 === 0)
          case 2 => Seq(col("lts") =!= col("rts"))
          case _ => Nil
        }
        val equis: Seq[Column] =
          if (c.equi) {
            // alternate plain and null-safe equality: the rule must
            // step aside for BOTH (a <=> key hash-joins just as well)
            if (k % 2 == 0) Seq(col("lid") % lit(7) === col("rid") % lit(7))
            else Seq(col("lid") % lit(7) <=> col("rid") % lit(7))
          } else Nil
        val conjuncts =
          new scala.util.Random(c.shuffleSeed)
            .shuffle(Seq(lower, upper) ++ extras ++ equis)
        val cond = conjuncts.reduce(_ && _)
        def q = l.join(r, cond).select(col("lid").cast("long"),
          col("rid").cast("long"))

        spark.experimental.extraOptimizations = prev
        val expected = q.collect().map(x => (x.getLong(0), x.getLong(1)))
          .groupBy(identity).view.mapValues(_.length).toMap
        spark.experimental.extraOptimizations =
          prev :+ graft.plans.RangeJoinRewrite
        val plan = q.queryExecution.executedPlan.toString
        val got = q.collect().map(x => (x.getLong(0), x.getLong(1)))
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(got === expected, s"case $k: $c")
        if (c.equi) {
          // equi conjunct present: the rule must step aside (Spark hash
          // joins on the key; no bucket machinery in the plan)
          assert(!plan.contains("__graft_bucket"), s"case $k: $c\n$plan")
        } else if (c.hi >= c.lo) {
          // rewrite applies: no pair-comparing join survives
          assert(!plan.contains("BroadcastNestedLoopJoin") &&
            !plan.contains("CartesianProduct"), s"case $k: $c\n$plan")
        }
      }
    } finally spark.experimental.extraOptimizations = prev
  }

  test("RangeJoinRewrite temporal fuzz: timestamp/NTZ/date domains, " +
    "BETWEEN and conjunct-pair surface forms, interval and date_add " +
    "offsets, sub-second widths — rewritten equals naive; equi-keyed " +
    "never rewritten; calendar day/month intervals never rewritten " +
    "(r13 #6)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.{Column, DataFrame}

    // dom: 0 ts, 1 ntz, 2 date. loS/hiS: offsets in seconds (ts/ntz,
    // fractional via milli part) or days (date). between: Column
    // .between vs shuffled conjunct pair. calDay: wrap the upper
    // offset in a make_interval day component — the DST-variable
    // shape the rule must refuse.
    case class C(loS: Int, hiS: Int, dom: Int, between: Boolean,
                 equi: Boolean, calDay: Boolean, milli: Boolean,
                 shuffleSeed: Int)
    val gen = for {
      lo <- Gen.choose(-30, 30)
      hi <- Gen.choose(-30, 30)
      dm <- Gen.choose(0, 2)
      bw <- Gen.oneOf(true, false)
      eq <- Gen.frequency(4 -> false, 1 -> true)
      cd <- Gen.frequency(6 -> false, 1 -> true)
      ms <- Gen.oneOf(true, false)
      sh <- Gen.choose(0, 1000)
    } yield C(lo, hi, dm, bw, eq, cd, ms, sh)

    def tsDf(ids: Range, step: Long, idName: String, tsName: String,
             ntz: Boolean): DataFrame = {
      val df = ids.map(i => (i.toLong,
        new java.sql.Timestamp(1700000000000L + i * step)))
        .toDF(idName, tsName)
      if (ntz) df.select(col(idName),
        col(tsName).cast("timestamp_ntz").as(tsName))
      else df
    }
    def dateDf(ids: Range, step: Int, idName: String,
               dName: String): DataFrame =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong * step))))
        .toDF(idName, dName)

    val prev = spark.experimental.extraOptimizations
    try {
      (0 until 36).foreach { k =>
        val c = gen.pureApply(Gen.Parameters.default, Seed(k.toLong * 6007 + 11))
        val (l, r) = c.dom match {
          case 2 => (dateDf(0 until 80, 3, "lid", "lts"),
                     dateDf(0 until 80, 5, "rid", "rts"))
          case d => (tsDf(0 until 150, 777, "lid", "lts", d == 1),
                     tsDf(0 until 150, 991, "rid", "rts", d == 1))
        }
        // offset column: seconds(+millis) via interval for ts/ntz,
        // days via date_add/date_sub (alternating) for dates
        def bnd(v: Int): Column = c.dom match {
          case 2 =>
            if (k % 2 == 0) date_add(col("rts"), v)
            else date_sub(col("rts"), -v)
          case _ =>
            val frac = if (c.milli) ".25" else ""
            if (c.calDay)
              col("rts") + expr(s"make_interval(0, 0, 0, 1, 0, 0, $v)")
            else if (k % 2 == 0)
              col("rts") + expr(s"INTERVAL '$v$frac' SECOND")
            else col("rts") - expr(s"INTERVAL '${-v}$frac' SECOND")
        }
        val lower: Column =
          if (k % 3 == 0) col("lts") >= bnd(c.loS) else bnd(c.loS) <= col("lts")
        val upper: Column =
          if (k % 3 == 1) col("lts") <= bnd(c.hiS) else bnd(c.hiS) >= col("lts")
        val equis: Seq[Column] =
          if (c.equi) Seq(col("lid") % lit(5L) === col("rid") % lit(5L))
          else Nil
        val cond: Column =
          if (c.between && !c.equi)
            col("lts").between(bnd(c.loS), bnd(c.hiS))
          else new scala.util.Random(c.shuffleSeed)
            .shuffle(Seq(lower, upper) ++ equis).reduce(_ && _)
        def q = l.join(r, cond).select(col("lid"), col("rid"))

        spark.experimental.extraOptimizations = prev
        val expected = q.collect().map(x => (x.getLong(0), x.getLong(1)))
          .groupBy(identity).view.mapValues(_.length).toMap
        spark.experimental.extraOptimizations =
          prev :+ graft.plans.RangeJoinRewrite
        val plan = q.queryExecution.executedPlan.toString
        val got = q.collect().map(x => (x.getLong(0), x.getLong(1)))
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(got === expected, s"case $k: $c")
        if (c.equi || c.calDay) {
          // equi key ⇒ the rule steps aside; calendar-day interval ⇒
          // variable-width offset is out of the rule's proof, no bucket
          assert(!plan.contains("__graft_bucket"), s"case $k: $c\n$plan")
        } else if (c.hiS >= c.loS) {
          assert(!plan.contains("BroadcastNestedLoopJoin") &&
            !plan.contains("CartesianProduct"), s"case $k: $c\n$plan")
        }
      }
    } finally spark.experimental.extraOptimizations = prev
  }

  test("RangeJoinRewrite fires on SQL-text BETWEEN over timestamps — " +
    "the surface form production interval joins are written in") {
    val l = (0 until 150).map(i => (i.toLong,
      new java.sql.Timestamp(1700000000000L + i * 777L))).toDF("lid", "lts")
    val r = (0 until 150).map(i => (i.toLong,
      new java.sql.Timestamp(1700000000000L + i * 991L))).toDF("rid", "rts")
    l.createOrReplaceTempView("rjf_l")
    r.createOrReplaceTempView("rjf_r")
    def q = spark.sql(
      "SELECT lid, rid FROM rjf_l JOIN rjf_r ON " +
        "lts BETWEEN rts - INTERVAL '2' SECOND AND rts + INTERVAL '3' SECOND")
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev
      val expected = q.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      spark.experimental.extraOptimizations =
        prev :+ graft.plans.RangeJoinRewrite
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bucket"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      val got = q.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(got === expected && got.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.catalog.dropTempView("rjf_l")
      spark.catalog.dropTempView("rjf_r")
    }
  }

  test("GraftSqlBridge: every bridged Spark-internal call works on this " +
    "Spark — an upgrade that moves one fails here, in one place") {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{Add, Expression}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // ofRows: a logical plan in, analyzed (not run), the same values out
    val local = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "k", StringType)(), org.apache.spark.sql.catalyst.expressions
        .AttributeReference("v", LongType, nullable = false)()),
      Seq(InternalRow(UTF8String.fromString("a"), 1L),
        InternalRow(UTF8String.fromString("b"), 2L)))
    val df = GraftSqlBridge.ofRows(spark, local)
    assert(df.schema === StructType(Seq(StructField("k", StringType),
      StructField("v", LongType, nullable = false))))
    assert(df.as[(String, Long)].collect().sorted.toSeq ===
      Seq(("a", 1L), ("b", 2L)))
    // functionRegistry: a registered builder resolves through
    // call_function, and dropping it unregisters it
    val reg = GraftSqlBridge.functionRegistry(spark)
    val fn = "graft_bridge_probe_add"
    reg.createOrReplaceTempFunction(fn,
      (e: Seq[Expression]) => Add(e(0), e(1)), "built-in")
    try assert(spark.range(3).select(call_function(fn, col("id"), lit(10L)))
      .as[Long].collect().toSeq === Seq(10L, 11L, 12L))
    finally reg.dropFunction(FunctionIdentifier(fn))
    assert(!reg.functionExists(FunctionIdentifier(fn)))
    // addStrategy / extraStrategies: registered once however often it
    // is called (on a fresh session, so no other suite sees it)
    val fresh = spark.newSession()
    val noop = new org.apache.spark.sql.execution.SparkStrategy {
      def apply(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        Nil
    }
    GraftSqlBridge.addStrategy(fresh, noop)
    GraftSqlBridge.addStrategy(fresh, noop)
    assert(GraftSqlBridge.extraStrategies(fresh).count(_ eq noop) === 1)
    assert(!GraftSqlBridge.extraStrategies(spark).exists(_ eq noop))
    // addOptimization: the same once-only registration for a rule
    val rule = new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      def apply(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = p
    }
    GraftSqlBridge.addOptimization(fresh, rule)
    GraftSqlBridge.addOptimization(fresh, rule)
    assert(fresh.experimental.extraOptimizations.count(_ eq rule) === 1)
    assert(!spark.experimental.extraOptimizations.exists(_ eq rule))
    // normalizeFloats: −0.0 and every NaN bit pattern key as one value
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    val norm = UnsafeProjection.create(Seq(GraftSqlBridge.normalizeFloats(
      BoundReference(0, DoubleType, nullable = true))))
    def key(d: Double) = norm(InternalRow(d)).copy()
    assert(key(-0.0) === key(0.0))
    assert(key(java.lang.Double.longBitsToDouble(0x7ff8000000000123L)) ===
      key(Double.NaN))
    assert(key(1.0) !== key(0.0))
    // drainListenerBus: once it returns, a listener has seen every
    // event of the jobs that already ran — the count is exact
    val sc = spark.sparkContext
    GraftSqlBridge.drainListenerBus(sc)
    val ends = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ends.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.parallelize(1 to 10, 2).count() // one job each
      sc.parallelize(1 to 10, 2).count()
      GraftSqlBridge.drainListenerBus(sc)
      assert(ends.get === 2)
    } finally sc.removeSparkListener(l)
  }
}
