package graft

import graft.ops.{Dedup, Selection, TextAnalysis}
import org.apache.spark.sql.functions._

/** Corpus-selection + round-6 text ops on controlled inputs. */
class SelectionSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text about spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny"),
    (6L, "")
  ).toDF("doc_id", "text")

  test("property: mixCorpusRepeated equals a local reference on random " +
    "corpora — zero-token docs, empty sources, exact-multiple budgets, " +
    "binding caps, and budget-below-mass all compose correctly with " +
    "the r18 zero-remainder semantics") {
    val rnd = new scala.util.Random(18081526L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (trial <- 1 to 5) {
      val nSrc = 2 + rnd.nextInt(3)
      val rows = (0L until (8 + rnd.nextInt(12)).toLong).map { i =>
        val src = s"s${rnd.nextInt(nSrc)}"
        // ~1/4 zero-token docs: the remainder rule's edge class
        val nTok = if (rnd.nextInt(4) == 0) 0 else 1 + rnd.nextInt(6)
        (i, src, Seq.fill(nTok)("w").mkString(" "))
      }
      val masses = rows.groupBy(_._2).view
        .mapValues(_.map(r => r._3.split("\\s+").count(_.nonEmpty).toLong)
          .sum).toMap
      val cap = 1 + rnd.nextInt(3)
      // budgets spanning the regimes: below mass, exact multiple,
      // above cap·mass, and a source with no rows at all
      val budgets = (0 until nSrc).map { s =>
        val mass = masses.getOrElse(s"s$s", 0L)
        val b = rnd.nextInt(4) match {
          case 0 => rnd.nextLong(math.max(mass, 1L))        // partial
          case 1 => mass * (1 + rnd.nextInt(cap))           // exact multiple
          case 2 => mass * cap + 1 + rnd.nextInt(5)         // cap binds
          case _ => rnd.nextLong(math.max(mass * 2, 2L))    // anything
        }
        s"s$s" -> b
      }.toMap + ("ghost" -> (1L + rnd.nextInt(5)))
      // local reference: per source in md5(source§id) order, fe full
      // passes + inclusive-cum ≤ rem prefix at epoch fe iff rem > 0
      val expected = budgets.toSeq.flatMap { case (src, budget) =>
        val srcRows = rows.filter(_._2 == src)
          .map(r => (r._1, r._3.split("\\s+").count(_.nonEmpty).toLong))
          .sortBy { case (id, _) => (md5hex(s"$src§$id"), id) }
        val mass = srcRows.map(_._2).sum
        val fe = if (mass > 0) math.min(budget / mass, cap.toLong) else 0L
        val rem =
          if (mass > 0 && budget / mass < cap) budget - fe * mass
          else if (mass > 0) 0L
          else budget
        val full = for (e <- 0L until fe; (id, _) <- srcRows)
          yield (id, src, e)
        val prefix =
          if (rem > 0)
            srcRows.scanLeft((0L, 0L)) { case ((_, c), (id, t)) =>
              (id, c + t)
            }.drop(1).takeWhile(_._2 <= rem)
              .map { case (id, _) => (id, src, fe) }
          else Seq.empty
        full ++ prefix
      }.toSet
      val got = Selection.mixCorpusRepeated(
          rows.toDF("doc_id", "source", "text"), "source", "text",
          "doc_id", budgets, maxEpochs = cap)
        .select("doc_id", "source", "epoch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === expected,
        s"trial $trial (cap=$cap budgets=$budgets):\n" +
          s"extra=${got -- expected}\nmissing=${expected -- got}")
    }
  }

  test("topKPerGroup keeps k rows per group, score desc, ties by id asc") {
    val df = Seq(
      ("a", 1L, 3.0), ("a", 2L, 5.0), ("a", 3L, 5.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)
    ).toDF("g", "id", "score")
    val top = Selection.topKPerGroup(df, "g", "score", "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // ties at 5.0 -> ids 2 then 3; 4th row cut; group b keeps its one row
    assert(top === Set(("a", 2L), ("a", 3L), ("b", 5L)))
  }

  test("hashSample is deterministic, content-keyed, and rate-monotone") {
    val s20 = Selection.hashSample(docs, "text", 20)
      .select("doc_id").as[Long].collect().toSet
    val s20again = Selection.hashSample(docs, "text", 20)
      .select("doc_id").as[Long].collect().toSet
    assert(s20 === s20again) // reproducible
    // exact duplicates land on the same side of the cut
    assert(s20.contains(1L) === s20.contains(4L))
    // monotone in the rate: a larger cut is a superset
    val s80 = Selection.hashSample(docs, "text", 80)
      .select("doc_id").as[Long].collect().toSet
    assert(s20.subsetOf(s80))
    assert(Selection.hashSample(docs, "text", 0).count() === 0L)
    assert(Selection.hashSample(docs, "text", 100).count() === docs.count())
    // xxhash64 production mode: same invariants, same dup-cohesion
    val x = Selection.hashSample(docs, "text", 50, useMd5 = false)
      .select("doc_id").as[Long].collect().toSet
    assert(x.contains(1L) === x.contains(4L))
  }

  test("mixCorpus: inclusive budgets as greedy prefixes of the md5 order; unknown sources dropped") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 40 docs over 3 sources with 1..4-token texts; source c has no budget
    val rows = (0 until 40).map { i =>
      val src = Seq("a", "b", "c")(i % 3)
      (i.toLong, src, Seq.fill(i % 4 + 1)("w").mkString(" "))
    }
    val budgets = Map("a" -> 12L, "b" -> 0L)
    val got = Selection.mixCorpus(rows.toDF("doc_id", "source", "text"),
        "source", "text", "doc_id", budgets)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // local greedy oracle: md5(source§id) order, take while cumsum <= budget
    val want = rows.groupBy(_._2).toSeq.flatMap { case (src, docs) =>
      budgets.get(src).toSeq.flatMap { budget =>
        var cum = 0L
        docs.sortBy(d => (md5hex(s"$src§${d._1}"), d._1)).takeWhile { d =>
          cum += d._3.split(" ").length; cum <= budget
        }.map(_._1)
      }
    }.sorted
    assert(want.nonEmpty && got === want, s"got=$got want=$want")
    // no doc from budget-0 b or unbudgeted c; budget bound holds
    val bySrc = rows.filter(r => got.contains(r._1)).groupBy(_._2)
    assert(!bySrc.contains("b") && !bySrc.contains("c"))
    assert(bySrc("a").map(_._3.split(" ").length).sum <= 12L)
  }

  test("mixCorpusRepeated: budget div mass full passes + canonical " +
    "remainder prefix; the cap binds as under-delivery (no surprise " +
    "pass); zero-mass source takes the remainder rule once") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a: mass 7 (docs 1:3tok, 2:4tok), budget 17 => fe=2, rem=3;
    // b: mass 4 (docs 3,4: 2tok each), budget 100, maxEpochs=3 =>
    //    fe capped at 3, rem=0;
    // z: mass 0 (doc 5 empty), budget 5 => fe=0, remainder rule keeps
    //    the zero-token doc once at epoch 0
    val rows = Seq(
      (1L, "a", "w w w"), (2L, "a", "w w w w"),
      (3L, "b", "w w"), (4L, "b", "w w"),
      (5L, "z", ""))
    val got = Selection.mixCorpusRepeated(
        rows.toDF("doc_id", "source", "text"), "source", "text",
        "doc_id", Map("a" -> 17L, "b" -> 100L, "z" -> 5L), maxEpochs = 3)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a's remainder (3 tokens): the md5-order prefix while cum <= 3
    val aDocs = Seq((1L, 3L), (2L, 4L))
      .sortBy { case (id, _) => (md5hex(s"a§$id"), id) }
    var cum = 0L
    val aRem = aDocs.takeWhile { case (_, t) => cum += t; cum <= 3 }
      .map { case (id, _) => (id, 2L) }
    val want =
      (for (id <- Seq(1L, 2L); e <- 0L to 1L) yield (id, e)).toSet ++
        aRem.toSet ++
        (for (id <- Seq(3L, 4L); e <- 0L to 2L) yield (id, e)).toSet ++
        Set((5L, 0L))
    assert(got === want, s"got=$got want=$want")
    assert(!got.exists { case (id, e) => (id == 3L || id == 4L) && e >= 3 },
      "the cap must not emit a surprise extra pass")
  }

  test("mixCorpusRepeated: a ZERO remainder emits nothing — zero-token " +
    "docs must not ride a surprise extra pass at epoch fe (r17 advice)") {
    // source q: mass 4 from docs 6,7 plus a ZERO-token doc 8.
    // budget 8 = exactly 2·mass => fe=2, rem=0: doc 8 appears at epochs
    // 0 and 1 ONLY (it is part of each full pass), never at epoch 2.
    // Same shape under a binding cap: budget 100, maxEpochs=2 => rem=0.
    val rows = Seq((6L, "q", "w w"), (7L, "q", "w w"), (8L, "q", ""))
    def epochsOf(budget: Long, cap: Int) = Selection.mixCorpusRepeated(
        rows.toDF("doc_id", "source", "text"), "source", "text",
        "doc_id", Map("q" -> budget), maxEpochs = cap)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = epochsOf(8L, 4)
    val want = (for (id <- Seq(6L, 7L, 8L); e <- 0L to 1L)
      yield (id, e)).toSet
    assert(exact === want, s"exact-multiple budget: $exact")
    val capped = epochsOf(100L, 2)
    assert(capped === want, s"binding cap: $capped")
  }

  test("selection surface refuses output/staging column collisions " +
    "loudly (r17 advice): epoch / __mix_* / key / n_tok") {
    val d = Seq((1L, "a", "w w", 0L)).toDF("doc_id", "source", "text", "epoch")
    val e1 = intercept[IllegalArgumentException] {
      Selection.mixCorpusRepeated(d, "source", "text", "doc_id",
        Map("a" -> 5L))
    }
    assert(e1.getMessage.contains("epoch"))
    val d2 = Seq((1L, "a", "w", "x")).toDF("doc_id", "source", "text", "__mix_k")
    val e2 = intercept[IllegalArgumentException] {
      Selection.mixCorpus(d2, "source", "text", "doc_id", Map("a" -> 5L))
    }
    assert(e2.getMessage.contains("__mix_k"))
    val d3 = Seq((1L, 2.0, "z")).toDF("doc_id", "w", "key")
    val e3 = intercept[IllegalArgumentException] {
      Selection.weightedSample(d3, "w", "doc_id", k = 1)
    }
    assert(e3.getMessage.contains("key"))
    val d4 = Seq((1L, "w w", 9L)).toDF("doc_id", "text", "n_tok")
    val e4 = intercept[IllegalArgumentException] {
      Selection.shardByTokenBudget(d4, "text", "doc_id", 2)
    }
    assert(e4.getMessage.contains("n_tok"))
  }

  test("temperatureBudgets: non-string source keys cast (not CCE) and " +
    "an all-null-text source masses to 0 (not NPE) — r17 advice") {
    val d = Seq((1L, 10, Some("w w w")), (2L, 20, None), (3L, 20, None))
      .toDF("doc_id", "source", "text")
    val b = Selection.temperatureBudgets(d, "source", "text", 100L, 1.0)
    assert(b === Map("10" -> 100L, "20" -> 0L), b.toString)
  }

  test("one-tokenize-pass recipe: masses -> budgets -> ByTokens mixing " +
    "runs on a frame with NO text column at all (type-level proof the " +
    "composed recipe never re-tokenizes) and equals the text path") {
    val rows = Seq(
      (1L, "a", "w w w"), (2L, "a", "w w w w"),
      (3L, "b", "w w"), (4L, "b", "w w"))
    val withText = rows.toDF("doc_id", "source", "text")
    // one tokenize pass, materialized; the text column is then DROPPED
    val counted = withText
      .withColumn("n_tok", ops.TextAnalysis.tokenCount(col("text")))
      .drop("text")
    val masses = Selection.sourceMasses(counted, "source", "n_tok")
    assert(masses === Map("a" -> 7L, "b" -> 4L))
    assert(masses === Selection.sourceTokenMasses(withText, "source", "text"))
    val budgets = Selection.temperatureBudgets(masses, 11L, 1.0)
    assert(budgets === Selection.temperatureBudgets(
      withText, "source", "text", 11L, 1.0))
    def sel(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sel(Selection.mixCorpusRepeatedByTokens(counted, "source",
        "n_tok", "doc_id", budgets)) ===
      sel(Selection.mixCorpusRepeated(withText, "source", "text",
        "doc_id", budgets)))
    assert(Selection.mixCorpusByTokens(counted, "source", "n_tok",
        "doc_id", budgets).select("doc_id").as[Long].collect().toSet ===
      Selection.mixCorpus(withText, "source", "text", "doc_id", budgets)
        .select("doc_id").as[Long].collect().toSet)
  }

  test("temperatureBudgets: T=1 reproduces natural token proportions, " +
    "large T flattens toward uniform, T<1 sharpens; never exceeds the " +
    "total; empty corpus yields zero budgets") {
    // sources with token masses 100 / 300 / 600 (1-token docs)
    val rows = (0 until 1000).map { i =>
      val src = if (i < 100) "s" else if (i < 400) "m" else "l"
      (i.toLong, src, "w")
    }
    val df = rows.toDF("doc_id", "source", "text")
    def b(t: Double) = Selection.temperatureBudgets(
      df, "source", "text", totalTokens = 1000L, temperature = t)
    val nat = b(1.0)
    assert(nat === Map("s" -> 100L, "m" -> 300L, "l" -> 600L))
    val flat = b(100.0) // n^(1/100) ~ 1: near-uniform thirds (the big
    // source keeps a sliver of advantage — 330/333/336 at these masses)
    assert(flat.values.forall(v => v >= 325L && v <= 340L), flat.toString)
    assert(flat("l") - flat("s") < 10L, "high T must nearly flatten")
    val sharp = b(0.5) // n²-proportional: the big source dominates
    assert(sharp("l") > nat("l") && sharp("s") < nat("s"), sharp.toString)
    // floor() per source keeps every mixture loadable within the total
    Seq(0.5, 1.0, 2.0, 100.0).foreach { t =>
      assert(b(t).values.sum <= 1000L, s"T=$t exceeds total")
    }
    assert(Selection.temperatureBudgets(
        df.withColumn("text", lit("")), "source", "text", 1000L, 1.0)
      .values.forall(_ == 0L), "zero token mass must budget zero")
    // and the composition feeds mixCorpus: selected tokens per source
    // stay within the computed budgets
    val mixed = Selection.mixCorpus(df, "source", "text", "doc_id", sharp)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    mixed.foreach { case (srcName, n) =>
      assert(n <= sharp(srcName), s"$srcName over budget") // 1 token/doc
    }
  }

  test("contaminated/decontaminate split the corpus on benchmark fingerprints") {
    val bench = docs.filter(col("doc_id") === 1L)
    val hit = Selection.contaminated(docs, bench, "text")
      .select("doc_id").as[Long].collect().sorted
    assert(hit === Array(1L, 4L)) // doc 4 is the exact dup of benchmark doc 1
    val clean = Selection.decontaminate(docs, bench, "text")
      .select("doc_id").as[Long].collect().sorted
    assert(clean === Array(2L, 3L, 5L, 6L))
    assert(hit.length + clean.length === docs.count())
  }

  test("crossNearDupPairs finds bipartite near-dups only, never within-side") {
    val left = docs.filter(col("doc_id") <= 2L)
    val right = docs.filter(col("doc_id") > 2L)
    val pairs = Dedup.crossNearDupPairs(left, right, "text", "doc_id", "doc_id",
      threshold = 0.5, numHashes = 8, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup across the split
    // 1-2 are near-dups but both on the left: must NOT appear
    assert(pairs.forall { case (l, r) => l <= 2L && r > 2L })
  }

  test("chunks: overlap, last-window coverage, empty-doc skip") {
    val d = Seq((1L, "a b c d e f g"), (2L, "x y"), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.chunks(d, "text", "doc_id", size = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: 7 tokens -> ceil(3/3)+1 = 2 chunks: [a..d], [d..g]
    assert(rows.filter(_._1 == 1L).toSeq ===
      Seq((1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "d e f g")))
    // doc 2: fits one window
    assert(rows.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 2L, "x y")))
    // empty doc: no chunks
    assert(!rows.exists(_._1 == 3L))
    // every token of doc 1 is covered by some chunk
    val covered = rows.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered === Set("a", "b", "c", "d", "e", "f", "g"))
  }

  test("chunks kernel ≡ composed split/slice/array_join on whitespace edges") {
    // adversarial token edges: tabs/newlines (split-limit -1 empty edge
    // tokens), multi-space runs, leading/trailing spaces (trimmed),
    // uppercase (lowered), all-space (no rows), single token
    val d = Seq(
      (1L, "a b c d e f g h i"), (2L, "\tlead tab"), (3L, "trail tab\t"),
      (4L, "  spaces  trimmed  "), (5L, "\t\t"), (6L, "MiXeD Case\nNEWLINE"),
      (7L, "one"), (8L, "   "), (9L, "a  bc")
    ).toDF("doc_id", "text")
    def composed(size: Int, stride: Int) = {
      val toks = split(trim(lower(col("text"))), "\\s+")
      val n = when(length(trim(col("text"))) === 0, lit(0))
        .otherwise(org.apache.spark.sql.functions.size(toks)).cast("long")
      val nChunks = when(n === 0, lit(0L)).otherwise(
        floor((greatest(n - size, lit(0L)) + (stride - 1)) / stride).cast("long") + 1)
      d.select(col("doc_id"), toks.as("__toks"), nChunks.as("__nc"))
        .filter(col("__nc") > 0)
        .select(col("doc_id"), col("__toks"),
          explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          org.apache.spark.sql.functions.size(
            slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"), lit(size)))
            .cast("long").as("n_chunk_tokens"),
          array_join(slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(size)), " ").as("chunk_text"))
    }
    for ((size, stride) <- Seq((4, 3), (2, 2), (16, 12), (3, 1))) {
      val got = TextAnalysis.chunks(d, "text", "doc_id", size, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val want = composed(size, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got === want, s"size=$size stride=$stride")
    }
  }

  test("semanticNearDupPairs: within-cell only, min-id survivors kept") {
    import graft.ops.Similarity
    // two well-separated cells on orthogonal axes; 1≈2 in cell A,
    // 4≈5 in cell B, 3 alone in A; cross-cell near-identity CANNOT pair
    val e = Seq(
      (1L, 0L, Seq(1.0, 0.0, 0.0)), (2L, 0L, Seq(0.999, 0.01, 0.0)),
      (3L, 0L, Seq(0.7, 0.3, 0.0)),
      (4L, 1L, Seq(0.0, 1.0, 0.0)), (5L, 1L, Seq(0.0, 0.999, 0.01))
    ).toDF("vec_id", "label", "embedding")
    val cents = Similarity.centroidsFromLabels(e, "label", "embedding")
    val pairs = Similarity.semanticNearDupPairs(e, "vec_id", "embedding",
      cents, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (4L, 5L)))
    val kept = Similarity.semanticDrop(e, "vec_id", "embedding",
      cents, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted
    assert(kept === Array(1L, 3L, 4L)) // 2 and 5 dropped (larger ids)
  }

  test("semantic pairs are a subset of the exact near-dup pairs") {
    import graft.ops.Similarity
    val e = (0 until 30).map { i =>
      val base = Array.tabulate(8)(dm => math.sin(i * 0.7 + dm).abs + 0.1)
      (i.toLong, (i % 3).toLong, base.toSeq)
    }.toDF("vec_id", "label", "embedding")
    val cents = Similarity.centroidsFromLabels(e, "label", "embedding")
    val sem = Similarity.semanticNearDupPairs(e, "vec_id", "embedding", cents, 0.995)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.995)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sem.subsetOf(exact)) // cluster-bounding only ever LOSES pairs
    assert(sem.nonEmpty)        // fixture dense enough to exercise the path
  }

  test("fuzzyJoin: lossless d=1 blocking vs brute-force levenshtein") {
    val names = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "sittin"),   // chain of subs
      (4L, "kitte"), (5L, "kittens"),                   // delete / insert
      (6L, "mitten"), (7L, "zebra"), (8L, "kitten")     // dup string
    ).toDF("id", "name")
    val got = graft.ops.Linkage.fuzzySelfPairs(names, "id", "name", maxDist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force oracle over the same rows
    val brute = names.as[(Long, String)].collect()
    val want = (for {
      (ia, sa) <- brute; (ib, sb) <- brute if ia < ib
      if levenshteinDist(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got === want)
    assert(want.contains((1L, 8L)) && want.contains((1L, 2L)) &&
      want.contains((1L, 4L)) && want.contains((1L, 5L)) &&
      !want.contains((1L, 3L))) // kitten->sittin is distance 2
    // d=2 widens: the distance-2 chain pair appears
    val got2 = graft.ops.Linkage.fuzzySelfPairs(names, "id", "name", maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got2.contains((1L, 3L)) && got.subsetOf(got2))
    // plan pin: candidates meet through a hash/merge EQUI-join on the
    // variant, never a cartesian or broadcast-nested-loop product
    val plan = graft.ops.Linkage.fuzzySelfPairs(names, "id", "name", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("repetitionSignals kernel ≡ composed formulation on whitespace edges") {
    val d = Seq(
      (1L, "spam spam spam spam"), (2L, "one two three two one"),
      (3L, ""), (4L, "   "), (5L, "\tlead tab lead\t"),
      (6L, "a  b\n\nc"), (7L, "solo"), (8L, "MiXeD case mixed CASE")
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    assert(canon(TextAnalysis.repetitionSignals(d, "text", "doc_id")) ===
      canon(TextAnalysis.repetitionSignalsComposed(d, "text", "doc_id")))
  }

  test("vocabulary ranks by count desc then token asc, bounded by topN") {
    val d = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(d, "text", topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toSet === Set(("a", 3L, 1L), ("b", 3L, 2L), ("c", 1L, 3L)))
  }

  test("weightedSample: without-replacement, weight-monotone in " +
    "expectation, zero-weight excluded, deterministic") {
    import org.apache.spark.sql.functions.col
    // 50 light docs (w=1) + 5 heavy docs (w=1000): heavies should
    // essentially always make a k=10 sample
    val d = ((1L to 50L).map(i => (i, 1L)) ++
      (101L to 105L).map(i => (i, 1000L)) :+ ((200L, 0L))).toDF("doc_id", "w")
    val s1 = ops.Selection.weightedSample(d, "w", "doc_id", k = 10, seed = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1.distinct.length === 10)          // without replacement
    assert(!s1.contains(200L))                 // zero weight excluded
    assert((101L to 105L).forall(s1.contains)) // heavies dominate
    val s2 = ops.Selection.weightedSample(d, "w", "doc_id", k = 10, seed = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 === s2)                          // deterministic
    val s3 = ops.Selection.weightedSample(d, "w", "doc_id", k = 10, seed = 4)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 !== s3)                          // seed matters
  }

  test("shardByTokenBudget: canonical-permutation contiguous cuts, " +
    "near-equal token mass, deterministic") {
    import org.apache.spark.sql.functions.{col, md5}
    val d = (1L to 200L).map(i =>
      (i, Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "))).toDF("doc_id", "text")
    val out = ops.Selection.shardByTokenBudget(d, "text", "doc_id", 4)
    val rows = out.select("doc_id", "n_tok", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length === 200)
    assert(rows.map(_._3).distinct.sorted.toSeq === Seq(0, 1, 2, 3))
    val total = rows.map(_._2).sum
    val per = math.ceil(total / 4.0).toLong
    val mass = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    // each shard overshoots its budget by at most one document (max 7)
    mass.foreach { case (sh, m) => assert(m <= per + 7, s"shard $sh: $m") }
    // contiguity in the canonical md5 order: shard ids are monotone
    val perm = out.withColumn("__k", md5(col("doc_id").cast("string").cast("binary")))
      .orderBy("__k", "doc_id").select("shard").as[Int].collect().toSeq
    assert(perm === perm.sorted)
    val again = ops.Selection.shardByTokenBudget(d, "text", "doc_id", 4)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(rows.map(r => r._1 -> r._3).toMap === again)
  }

  test("shardByTokenBudget: an all-zero-token corpus lands wholly in " +
    "shard 0, never null shard ids (r12 ADVICE divisor clamp)") {
    val d = (1L to 20L).map(i => (i, "")).toDF("doc_id", "text")
    val rows = ops.Selection.shardByTokenBudget(d, "text", "doc_id", 4)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    assert(rows.length === 20)
    assert(rows.forall(_._2 === Some(0)), rows.take(5).toSeq)
  }

  test("writeShards: one file per shard directory, round-trip equals " +
    "the shard assignment, partition pruning serves single-shard reads") {
    import org.apache.spark.sql.functions.col
    val d = (1L to 150L).map(i =>
      (i, Seq.fill((i % 5 + 1).toInt)("w").mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      ops.Selection.writeShards(d, "text", "doc_id", 4, dir)
      val dirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
      assert(dirs.toSeq === Seq("shard=0", "shard=1", "shard=2", "shard=3"))
      dirs.foreach { sh =>
        val files = new java.io.File(s"$dir/$sh").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        assert(files.length === 1, s"$sh has ${files.length} files")
      }
      val back = spark.read.parquet(dir)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val direct = ops.Selection.shardByTokenBudget(d, "text", "doc_id", 4)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(back === direct)
      // partition pruning: a shard=2 read scans only that directory
      val plan = spark.read.parquet(dir).filter(col("shard") === 2)
        .queryExecution.executedPlan.toString
      assert(back.values.count(_ == 2) ===
        spark.read.parquet(dir).filter(col("shard") === 2).count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("writeShards degenerate inputs: an EMPTY corpus commits a " +
    "zero-entry manifest that verifies; null-text docs shard " +
    "deterministically as zero tokens (r13 review)") {
    import org.apache.spark.sql.functions.col
    // empty corpus: commit succeeds, manifest verifies, no crash
    val dir = java.nio.file.Files.createTempDirectory("graft_mt").toString
    try {
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      ops.Selection.writeShards(empty, "text", "doc_id", 3, dir)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_MANIFEST.json")))
      ops.Selection.verifyShards(spark, dir)
      // null-text docs: n_tok coalesces to 0, shard assignment follows
      // the canonical permutation (never the numShards-1 null artifact)
      val d = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]),
        (3L, "d"), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
      val rows = ops.Selection.shardByTokenBudget(d, "text", "doc_id", 2)
        .select("doc_id", "n_tok", "shard").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
      assert(rows(2L)._1 === 0L)
      assert(rows(4L)._1 === 0L)
      assert(rows.values.map(_._2).toSet.subsetOf(Set(0, 1)))
      // and the manifest survives null-text rows (token sum not null)
      ops.Selection.writeShards(d, "text", "doc_id", 2, dir)
      ops.Selection.verifyShards(spark, dir)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("writeShards commit protocol: manifest matches files, rerun is " +
    "manifest-identical, a lost shard file is detected (r12 missing #1)") {
    import org.apache.spark.sql.functions.col
    val d = (1L to 120L).map(i =>
      (i, Seq.fill((i % 6 + 1).toInt)("w").mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    try {
      ops.Selection.writeShards(d, "text", "doc_id", 3, dir)
      val mf = java.nio.file.Paths.get(dir, "_MANIFEST.json")
      assert(java.nio.file.Files.exists(mf))
      // files agree with the manifest
      ops.Selection.verifyShards(spark, dir)
      val m1 = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      // kill-and-rerun: content + manifest converge (file names differ;
      // the manifest IS the content contract)
      ops.Selection.writeShards(d, "text", "doc_id", 3, dir)
      val m2 = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      assert(m1 === m2, "rerun must be manifest-identical")
      ops.Selection.verifyShards(spark, dir)
      // truncated output (a shard's file lost after commit) is caught
      val victim = new java.io.File(s"$dir/shard=1").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(victim.delete())
      val e = intercept[IllegalArgumentException] {
        ops.Selection.verifyShards(spark, dir)
      }
      assert(e.getMessage.contains("mismatch") ||
        e.getMessage.contains("shard set"))
      // no manifest at all = never committed
      assert(java.nio.file.Files.deleteIfExists(mf))
      val e2 = intercept[IllegalArgumentException] {
        ops.Selection.verifyShards(spark, dir)
      }
      assert(e2.getMessage.contains("never committed"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("writeShards under a real cancel: the write throws, the output is " +
    "the previous commit or none, and a plain rerun restores the golden " +
    "manifest") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftSqlBridge
    val d = (1L to 120L).map(i =>
      (i, Seq.fill((i % 6 + 1).toInt)("w").mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cancel").toString
    val mf = java.nio.file.Paths.get(dir, "_MANIFEST.json")
    def manifest() = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
    val sc = spark.sparkContext
    val group = s"graft-cancel-${java.util.UUID.randomUUID()}"
    val fired = new java.util.concurrent.atomic.AtomicBoolean
    // the kill: the first job of the group cancels the group. Future
    // jobs are cancelled too, so the write throws even when that first
    // job finishes before the cancel reaches the scheduler.
    val killer = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id") &&
            fired.compareAndSet(false, true))
          sc.cancelJobGroupAndFutureJobs(group)
    }
    try {
      ops.Selection.writeShards(d, "text", "doc_id", 3, dir)
      val golden = manifest()
      sc.addSparkListener(killer)
      val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val writer = new Thread(() => {
        sc.setJobGroup(group, "writeShards under a cancel",
          interruptOnCancel = true)
        try ops.Selection.writeShards(d, "text", "doc_id", 3, dir)
        catch { case t: Throwable => thrown.set(t) }
      })
      writer.start()
      writer.join()
      GraftSqlBridge.drainListenerBus(sc)
      assert(fired.get, "no job of the cancelled group started")
      assert(thrown.get != null, "the cancelled write must throw")
      // wherever the cancel landed: the previous commit verifies and is
      // byte-identical, or the directory reads as never committed
      scala.util.Try(ops.Selection.verifyShards(spark, dir)) match {
        case scala.util.Success(_) =>
          assert(manifest() === golden)
        case scala.util.Failure(e) =>
          assert(e.isInstanceOf[IllegalArgumentException] &&
            e.getMessage.contains("never committed"), e)
      }
      // the restart: a plain rerun converges to the golden commit
      ops.Selection.writeShards(d, "text", "doc_id", 3, dir)
      assert(manifest() === golden)
      ops.Selection.verifyShards(spark, dir)
    } finally {
      sc.removeSparkListener(killer)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("repetitionSignals: repetitive text scores high, varied text low") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six"),
      (3L, "")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionSignals(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L)._1 < m(2L)._1) // distinct_ratio: spam doc lower
    assert(m(1L)._2 === 1.0)    // all bigrams identical
    assert(m(2L)._2 === 0.2)    // 5 distinct bigrams of 5
    assert(m(3L) === ((0.0, 0.0))) // blank doc scores zero by convention
  }

  test("topKPerGroupBounded equals the window form on random data " +
    "(ties, null scores, groups straddling k), plans no Window and no " +
    "SortAggregate, and is partition-invariant") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 600).map { i =>
      val g = s"g${rnd.nextInt(7)}"
      // ~10% null scores; heavy tie mass (scores 0..4)
      val score: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(5).toLong)
      (i.toLong, g, score)
    }
    val df = rows.toDF("id", "grp", "score")
    for (k <- Seq(1, 3, 17, 200)) { // 200 > every group: keep-all leg
      val win = Selection.topKPerGroup(df, "grp", "score", "id", k)
        .collect().map(_.toSeq).toSet
      val heap = Selection.topKPerGroupBounded(df, "grp", "score", "id", k)
        .collect().map(_.toSeq).toSet
      assert(heap === win, s"k=$k bounded != window")
      val heap2 = Selection
        .topKPerGroupBounded(df.repartition(13), "grp", "score", "id", k)
        .collect().map(_.toSeq).toSet
      assert(heap2 === heap, s"k=$k not partition-invariant")
    }
    val plan = Selection.topKPerGroupBounded(df, "grp", "score", "id", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window") && !plan.contains("SortAggregate"), plan)
    // r19 sweep: a group whose scores are ALL null with k > its size —
    // every row survives in both forms, deterministically by id
    val allNull = Seq((1L, "g", null: java.lang.Long),
      (2L, "g", null: java.lang.Long)).toDF("id", "grp", "score")
    val aw = Selection.topKPerGroup(allNull, "grp", "score", "id", 5)
      .collect().map(_.getLong(0)).sorted
    val ah = Selection.topKPerGroupBounded(allNull, "grp", "score", "id", 5)
      .collect().map(_.getLong(0)).sorted
    assert(aw.toSeq === Seq(1L, 2L) && ah.toSeq === Seq(1L, 2L))
  }
}
