package graft

import graft.aggs.ComplexAggs._
import org.apache.spark.sql.functions._

/** Complex struct(re, im) reductions — NumPy componentwise semantics
  * hand-checked on planted groups: NaN propagation vs nan*-skipping
  * (a NaN in EITHER part marks the whole value), null structs as
  * missing, all-NaN groups, n ≤ ddof guards, order-deterministic
  * first/last. Cross-engine certification is q_complex_aggs. */
class ComplexAggsSpec extends SparkTestBase {
  import spark.implicits._

  // groups: g ok (no NaN), h has one NaN-im value, x all-NaN, m has a
  // null struct row
  private def df = Seq(
    ("g", 1, Some((1.0, 2.0))),
    ("g", 2, Some((3.0, -1.0))),
    ("g", 3, Some((5.0, 0.0))),
    ("h", 1, Some((1.0, Double.NaN))),
    ("h", 2, Some((2.0, 1.0))),
    ("h", 3, Some((4.0, 3.0))),
    ("x", 1, Some((Double.NaN, 0.0))),
    ("m", 1, None),
    ("m", 2, Some((7.0, 8.0))))
    .map { case (k, i, z) => (k, i, z.map(p => (p._1, p._2))) }
    .toDF("k", "idx", "zz")
    .withColumn("z", when(col("zz").isNotNull,
      struct(col("zz._1").as("re"), col("zz._2").as("im"))))
    .drop("zz")

  private def agg(cols: (String, org.apache.spark.sql.Column)*) =
    df.groupBy("k").agg(cols.head._2.as(cols.head._1),
        cols.tail.map { case (n, c) => c.as(n) }: _*)
      .orderBy("k").collect()
      .map(r => r.getString(0) -> r).toMap

  test("count / sums: NaN propagation vs whole-value skipping, " +
    "null structs missing, all-NaN group") {
    val z = col("z")
    val m = agg(
      "n" -> ccount(z),
      "praw_re" -> csum(z).getField("re"),
      "praw_im" -> csum(z).getField("im"),
      "sre" -> nancsum(z).getField("re"),
      "sim" -> nancsum(z).getField("im"))
    // g: clean
    assert(m("g").getLong(1) === 3L)
    assert(m("g").getDouble(2) === 9.0 && m("g").getDouble(3) === 1.0)
    assert(m("g").getDouble(4) === 9.0 && m("g").getDouble(5) === 1.0)
    // h: plain im sum propagates the NaN; plain re sum is finite
    // (NaN is only in im); nan* skips the WHOLE value from both parts
    assert(m("h").getLong(1) === 2L)
    assert(m("h").getDouble(2) === 7.0)
    assert(m("h").getDouble(3).isNaN)
    assert(m("h").getDouble(4) === 6.0 && m("h").getDouble(5) === 4.0)
    // x: all-NaN — nansum = 0+0i (NumPy), plain sum NaN in re
    assert(m("x").getLong(1) === 0L)
    assert(m("x").getDouble(2).isNaN)
    assert(m("x").getDouble(4) === 0.0 && m("x").getDouble(5) === 0.0)
    // m: null struct skipped as missing by both
    assert(m("m").getLong(1) === 1L)
    assert(m("m").getDouble(2) === 7.0 && m("m").getDouble(4) === 7.0)
  }

  test("mean / var / std: real-valued E|x-mean|^2, ddof guards, " +
    "all-NaN group is null") {
    val z = col("z")
    val m = agg(
      "mre" -> nancmean(z).getField("re"),
      "mim" -> nancmean(z).getField("im"),
      "v1" -> nancvar(z, 1),
      "v0" -> nancvar(z, 0),
      "s2" -> nancstd(z, 2))
    // g: re (1,3,5) im (2,-1,0): mean (3, 1/3)
    assert(m("g").getDouble(1) === 3.0)
    assert(math.abs(m("g").getDouble(2) - 1.0 / 3.0) < 1e-12)
    // |x - mean|^2: (4+(5/3)^2) + (0+(4/3)^2) + (4+(1/3)^2) = 8 + 42/9
    val ssd = 8.0 + 42.0 / 9.0
    assert(math.abs(m("g").getDouble(3) - ssd / 2) < 1e-9)
    assert(math.abs(m("g").getDouble(4) - ssd / 3) < 1e-9)
    assert(math.abs(m("g").getDouble(5) - math.sqrt(ssd)) < 1e-9)
    // h: n=2 <= ddof=2 -> null std; x: all-NaN -> nulls
    assert(m("h").isNullAt(5))
    assert(m("x").isNullAt(1) && m("x").isNullAt(3))
    // m: single valid value: var ddof=0 is 0, ddof=1 null
    assert(m("m").getDouble(4) === 0.0)
    assert(m("m").isNullAt(3))
  }

  test("cmean / cstd law: NaN propagates, an all-missing group is null " +
    "(the csum convention, not a struct of nulls), n <= ddof is null") {
    // g: 1+2i, 3+4i — mean 2+3i, Σ|x − x̄|² = 2 + 2 = 4; h: a NaN-im
    // value; z: only null structs; one: a single value
    val d = Seq(("g", Some((1.0, 2.0))), ("g", Some((3.0, 4.0))),
        ("h", Some((1.0, Double.NaN))), ("h", Some((2.0, 1.0))),
        ("z", None), ("z", None), ("one", Some((5.0, 5.0))))
      .toDF("k", "zz")
      .withColumn("z", when(col("zz").isNotNull,
        struct(col("zz._1").as("re"), col("zz._2").as("im"))))
      .drop("zz")
    val z = col("z")
    val m = d.groupBy("k")
      .agg(cmean(z).as("mean"), cstd(z).as("s1"), cstd(z, 0).as("s0"),
        csum(z).as("sum"))
      .collect().map(r => r.getString(0) -> r).toMap
    def mean(k: String) = m(k).getStruct(1)
    assert(mean("g").getDouble(0) === 2.0 && mean("g").getDouble(1) === 3.0)
    assert(math.abs(m("g").getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(m("g").getDouble(3) - math.sqrt(2.0)) < 1e-12)
    // NaN in either part propagates: the im mean and the std are NaN
    assert(mean("h").getDouble(0) === 1.5 && mean("h").getDouble(1).isNaN)
    assert(m("h").getDouble(2).isNaN && m("h").getDouble(3).isNaN)
    // all-missing: mean is null exactly like sum, and so are the stds
    assert(m("z").isNullAt(4), "csum of an all-missing group")
    assert(m("z").isNullAt(1), s"cmean of an all-missing group: ${m("z")}")
    assert(m("z").isNullAt(2) && m("z").isNullAt(3))
    // ddof guard: n = 1 <= ddof = 1 is null; ddof = 0 gives 0
    assert(m("one").isNullAt(2))
    assert(m("one").getDouble(3) === 0.0)
  }

  test("min/max: lexicographic (re, im), nan* skip, plain variants " +
    "poison to NaN+NaNi on any NaN value") {
    val z = col("z")
    val m = agg(
      "mn_re" -> nancmin(z).getField("re"),
      "mn_im" -> nancmin(z).getField("im"),
      "mx_re" -> nancmax(z).getField("re"),
      "mx_im" -> nancmax(z).getField("im"),
      "pmn_re" -> cmin(z).getField("re"),
      "pmx_re" -> cmax(z).getField("re"))
    // g: values (1,2) (3,-1) (5,0) — lexicographic min (1,2), max (5,0)
    assert(m("g").getDouble(1) === 1.0 && m("g").getDouble(2) === 2.0)
    assert(m("g").getDouble(3) === 5.0 && m("g").getDouble(4) === 0.0)
    assert(m("g").getDouble(5) === 1.0 && m("g").getDouble(6) === 5.0)
    // h: nan* skips (1, NaN) -> min (2,1), max (4,3); plain poisons
    assert(m("h").getDouble(1) === 2.0 && m("h").getDouble(3) === 4.0)
    assert(m("h").getDouble(5).isNaN && m("h").getDouble(6).isNaN)
    // x: all-NaN -> nan* null, plain NaN
    assert(m("x").isNullAt(1))
    assert(m("x").getDouble(5).isNaN)
    // m: null struct skipped by both -> (7,8)
    assert(m("m").getDouble(1) === 7.0 && m("m").getDouble(5) === 7.0)
    // lexicographic tie on re decided by im: add a targeted frame
    val t = Seq(("t", 1, 2.0, 5.0), ("t", 2, 2.0, -1.0))
      .toDF("k", "idx", "r", "i")
      .withColumn("z", struct(col("r").as("re"), col("i").as("im")))
    val got = t.groupBy("k").agg(
      nancmin(col("z")).getField("im").as("mn_im"),
      nancmax(col("z")).getField("im").as("mx_im")).head()
    assert(got.getDouble(1) === -1.0 && got.getDouble(2) === 5.0)
  }

  test("property law: nan* reductions equal a local reference on " +
    "random complex groups (NaN parts, nulls, constant and tiny groups)") {
    val rnd = new scala.util.Random(4242)
    val data = (0 until 12).flatMap { g =>
      val size = g % 4 match {
        case 0 => 1 + rnd.nextInt(3)
        case 1 => 20 + rnd.nextInt(50)
        case _ => 5 + rnd.nextInt(10)
      }
      (0 until size).map { i =>
        val z: Option[(Double, Double)] =
          if (rnd.nextInt(10) == 0) None
          else Some((
            if (rnd.nextInt(12) == 0) Double.NaN
            else (rnd.nextInt(200) - 100) / 4.0,
            if (rnd.nextInt(12) == 0) Double.NaN
            else (rnd.nextInt(200) - 100) / 4.0))
        (s"g$g", i, z)
      }
    }
    val df = data.toDF("k", "idx", "zz")
      .withColumn("z", when(col("zz").isNotNull,
        struct(col("zz._1").as("re"), col("zz._2").as("im"))))
      .drop("zz").repartition(5)
    val z = col("z")
    val got = df.groupBy("k").agg(
        ccount(z).as("n"), nancsum(z).getField("re").as("sre"),
        nancsum(z).getField("im").as("sim"),
        nancmean(z).getField("re").as("mre"),
        nancvar(z, 1).as("v1"),
        nancmin(z).getField("re").as("mnre"),
        nancmin(z).getField("im").as("mnim"),
        nancmax(z).getField("re").as("mxre"),
        nancfirst(z, col("idx")).getField("re").as("fre"))
      .collect().map(r => r.getString(0) -> r).toMap
    val byG = data.groupBy(_._1)
    byG.foreach { case (k, rows) =>
      val valid = rows.sortBy(_._2).flatMap(_._3)
        .filter(p => !p._1.isNaN && !p._2.isNaN)
      val r = got(k)
      assert(r.getLong(1) === valid.size.toLong, s"$k n")
      assert(math.abs(r.getDouble(2) - valid.map(_._1).sum) < 1e-9, s"$k sre")
      assert(math.abs(r.getDouble(3) - valid.map(_._2).sum) < 1e-9, s"$k sim")
      if (valid.nonEmpty) {
        val mre = valid.map(_._1).sum / valid.size
        val mim = valid.map(_._2).sum / valid.size
        assert(math.abs(r.getDouble(4) - mre) < 1e-9, s"$k mre")
        if (valid.size > 1) {
          val ssd = valid.map(p =>
            (p._1 - mre) * (p._1 - mre) + (p._2 - mim) * (p._2 - mim)).sum
          assert(math.abs(r.getDouble(5) - ssd / (valid.size - 1)) < 1e-6,
            s"$k v1")
        } else assert(r.isNullAt(5), s"$k v1 null")
        val mn = valid.min // Scala tuple ordering = lexicographic
        val mx = valid.max
        assert(r.getDouble(6) === mn._1 && r.getDouble(7) === mn._2, s"$k min")
        assert(r.getDouble(8) === mx._1, s"$k max")
        assert(r.getDouble(9) === valid.head._1, s"$k first")
      } else {
        (2 to 3).foreach(i => assert(r.getDouble(i) === 0.0)) // nansum=0
        Seq(4, 5, 6, 7, 8, 9).foreach(i => assert(r.isNullAt(i), s"$k col$i"))
      }
    }
  }

  test("numerical stability law: var/std at |mean| >> sd matches the " +
    "mean-shifted local reference (the raw-moment form loses every digit)") {
    // mean ~1e8, sd ~1: Σ|x|² ~ n·1e16 has ulp ~2, so the raw-moment
    // form Σ|x|² − |Σx|²/n retains ZERO significant digits of a ~1
    // variance — the r15-verdict lead defect, certified-only-against-
    // itself until this law. The local reference mean-shifts first.
    val rnd = new scala.util.Random(99)
    val vals = (0 until 400).map { i =>
      (1.0e8 + (rnd.nextInt(2000) - 1000) / 500.0, // sd ~ 1.15
        -1.0e8 + (rnd.nextInt(2000) - 1000) / 500.0)
    }
    val df = vals.zipWithIndex
      .map { case ((r, im), i) => ("big", i, r, im) }
      .toDF("k", "idx", "r", "i")
      .withColumn("z", struct(col("r").as("re"), col("i").as("im")))
      .repartition(7)
    val got = df.groupBy("k").agg(
      nancvar(col("z"), 1).as("v1"),
      cvar(col("z"), 0).as("v0"),
      nancstd(col("z"), 2).as("s2")).head()
    val n = vals.size
    val mre = vals.map(_._1).sum / n
    val mim = vals.map(_._2).sum / n
    val ssd = vals.map { case (r, im) =>
      (r - mre) * (r - mre) + (im - mim) * (im - mim)
    }.sum
    // relative tolerance 1e-9: the stable form keeps ~15 digits here;
    // the raw-moment form is off by a factor of its own magnitude
    def rel(a: Double, b: Double) = math.abs(a - b) / math.abs(b)
    assert(rel(got.getDouble(1), ssd / (n - 1)) < 1e-9, "v1 stable")
    assert(rel(got.getDouble(2), ssd / n) < 1e-9, "v0 stable")
    assert(rel(got.getDouble(3), math.sqrt(ssd / (n - 2))) < 1e-9, "std stable")
    assert(got.getDouble(1) > 1.0 && got.getDouble(1) < 4.0,
      "sanity: the true variance is O(1), not O(ulp(1e16))")
  }

  test("argmin/argmax: lexicographic extremum's index, FIRST index on " +
    "ties, NaN values skipped, all-NaN group null") {
    // planted ties: (2,1) appears at idx 1 and 3; (5,9) at idx 2 and 4
    val t = Seq(("t", 1, 2.0, 1.0), ("t", 2, 5.0, 9.0), ("t", 3, 2.0, 1.0),
      ("t", 4, 5.0, 9.0), ("t", 5, Double.NaN, 0.0))
      .toDF("k", "idx", "r", "i")
      .withColumn("z", struct(col("r").as("re"), col("i").as("im")))
    val got = t.groupBy("k").agg(
      cargmin(col("z"), col("idx")).as("amn"),
      cargmax(col("z"), col("idx")).as("amx")).head()
    assert(got.getInt(1) === 1, "argmin: first index of the tied min")
    assert(got.getInt(2) === 2, "argmax: first index of the tied max")
    val x = Seq(("x", 1, Double.NaN, 0.0)).toDF("k", "idx", "r", "i")
      .withColumn("z", struct(col("r").as("re"), col("i").as("im")))
      .groupBy("k").agg(cargmin(col("z"), col("idx")).as("amn")).head()
    assert(x.isNullAt(1), "all-NaN group -> null index")
  }

  test("first/last: order-deterministic, nan* variants skip NaN values, " +
    "null structs skip") {
    val z = col("z")
    val m = agg(
      "f_im" -> cfirst(z, col("idx")).getField("im"),
      "l_re" -> clast(z, col("idx")).getField("re"),
      "nf_re" -> nancfirst(z, col("idx")).getField("re"),
      "nl_re" -> nanclast(z, col("idx")).getField("re"))
    assert(m("g").getDouble(1) === 2.0 && m("g").getDouble(2) === 5.0)
    // h: plain first INCLUDES the NaN-im value; nanfirst skips to idx 2
    assert(m("h").getDouble(1).isNaN)
    assert(m("h").getDouble(3) === 2.0 && m("h").getDouble(4) === 4.0)
    // m: null struct at idx 1 skips — first is the idx-2 value
    assert(m("m").getDouble(1) === 8.0)
    // x: nanfirst over all-NaN -> null struct -> null field
    assert(m("x").isNullAt(3))
  }
}
