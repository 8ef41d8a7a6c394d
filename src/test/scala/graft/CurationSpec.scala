package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** The two-phase salted per-key cap must be VALUE-identical to the plain
  * single-window cap (SCALING.md documents it as the hot-domain
  * mitigation for q102's admission rule — a documented mitigation that
  * isn't proven equivalent is a foot-gun, not a mitigation).
  */
class CurationSpec extends AnyFunSuite with SharedSpark {

  private def hotCorpus(n: Int, hotFrac: Double) = {
    import spark.implicits._
    // one CDN domain owns hotFrac of the corpus; ids shuffled so arrival
    // order proves nothing
    val rng = new scala.util.Random(7)
    rng.shuffle((0 until n).toList).zipWithIndex.map { case (id, i) =>
      val dom =
        if (i < (n * hotFrac).toInt) "cdn.hot.example"
        else s"site-${i % 37}.example"
      (id.toLong, dom)
    }.toDF("doc_id", "domain")
  }

  test("salted cap == plain cap: same kept set, same exact ranks") {
    val df = hotCorpus(4000, 0.5)
    def collect(out: org.apache.spark.sql.DataFrame) = out
      .select("doc_id", "domain", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    for (cap <- Seq(1, 25, 60); salts <- Seq(1, 3, 16)) {
      val plain = collect(Curation.plainRankCap(df, "domain", "doc_id", cap))
      val salted = collect(
        Curation.saltedRankCap(df, "domain", "doc_id", cap, salts))
      assert(salted == plain, s"cap=$cap salts=$salts diverged: " +
        s"salted-only=${(salted -- plain).take(3)} plain-only=${(plain -- salted).take(3)}")
    }
  }

  test("phase-2 window input is bounded by salts x cap per key") {
    // the scale claim: after phase 1 the hot key contributes at most
    // salts*cap rows to the exact-rank window, however hot it is
    val df = hotCorpus(4000, 0.8)
    val cap = 10; val salts = 4
    val phase1 = df
      .withColumn("__salt", pmod(xxhash64(col("doc_id")), lit(salts)))
      .withColumn("__sub", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain"), col("__salt")).orderBy(col("doc_id"))))
      .filter(col("__sub") <= cap)
    val survivors = phase1.groupBy("domain").count()
      .agg(max("count")).head().getLong(0)
    assert(survivors <= salts.toLong * cap,
      s"hot key leaked $survivors rows into the exact window")
  }

  test("property: salted cap equals a pure-Scala reference cap on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // rows: globally-unique order ids with random hot-ish key assignment;
    // cap and salts swept — the reference model is independent Scala
    val rowsGen = for {
      n <- Gen.choose(0, 120)
      keys <- Gen.listOfN(n, Gen.frequency(
        5 -> Gen.const("hot"), 3 -> Gen.oneOf("a", "b", "c", "d")))
    } yield keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val prop = Prop.forAll(rowsGen, Gen.choose(0, 5), Gen.choose(1, 8)) {
      (rows: Seq[(Long, String)], cap: Int, salts: Int) =>
        import spark.implicits._
        val expected = rows.groupBy(_._2).flatMap { case (k, rs) =>
          rs.map(_._1).sorted.take(cap).zipWithIndex
            .map { case (id, i) => (id, k, (i + 1).toLong) }
        }.toSet
        val got = Curation.saltedRankCap(
            rows.toDF("doc_id", "domain"), "domain", "doc_id", cap, salts)
          .select("doc_id", "domain", "rank").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  // --- saltedExactRank: the skew-split exact row_number behind q102's
  //     shipped admission rank (r10 VERDICT next-round #2)

  test("saltedExactRank == plain row_number on a hot-domain corpus") {
    val df = hotCorpus(4000, 0.5)
    def ranks(out: org.apache.spark.sql.DataFrame) = out
      .select("doc_id", "domain", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(identity)
    val plain = ranks(df.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("domain")).orderBy(col("doc_id"))).cast("long")))
    for (salts <- Seq(1, 3, 16)) {
      val salted = ranks(Curation.saltedExactRank(df, "domain", "doc_id", salts))
      assert(salted.toSeq == plain.toSeq, s"salts=$salts diverged")
    }
    // no window may partition by the bare key: every domain window must
    // carry the __rb range bucket
    val physical = Curation.saltedExactRank(df, "domain", "doc_id")
      .queryExecution.executedPlan.toString
    val domWins = "windowspecdefinition\\(domain#\\d+, [^ ,]+".r
      .findAllIn(physical).toList
    assert(domWins.nonEmpty && domWins.forall(_.contains("__rb")),
      s"bare domain window in saltedExactRank: $domWins")
  }

  test("property: saltedExactRank equals a pure-Scala rank on random corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(0, 100)
      // ids drawn sparse and possibly negative: the range bucketing must
      // hold off-origin and with gaps; uniqueness enforced by distinct
      ids <- Gen.listOfN(n, Gen.choose(-1000L, 1000L)).map(_.distinct)
      keys <- Gen.listOfN(ids.size, Gen.choose(0, 3))
      salts <- Gen.oneOf(1, 2, 7, 64)
    } yield (ids.zip(keys), salts)
    val prop = Prop.forAll(gen) { case (rows, salts) =>
      val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(_._1).zipWithIndex
          .map { case ((id, k), i) => (id, k, i + 1L) }
      }.toList.sorted
      val got = Curation.saltedExactRank(
          rows.toDF("doc_id", "dom"), "dom", "doc_id", salts)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toList.sorted
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("saltedExactRank with supplied orderBounds == probed form (incl. non-covering bounds)") {
    // callers that know their id domain skip the min/max probe job; the
    // result must be value-identical under tight, loose, AND non-covering
    // bounds (out-of-range rows clamp into the edge buckets), with null
    // order keys still ranked first
    import spark.implicits._
    val df = hotCorpus(2000, 0.5)
    def ranks(out: org.apache.spark.sql.DataFrame) = out
      .select("doc_id", "domain", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(identity).toSeq
    val probed = ranks(Curation.saltedExactRank(df, "domain", "doc_id", 8))
    for (b <- Seq((0L, 1999L),            // exact
                  (-50000L, 50000L),      // loose: coarser buckets, same values
                  (500L, 900L))) {        // non-covering: edges clamp
      val supplied = ranks(Curation.saltedExactRank(df, "domain", "doc_id", 8,
        orderBounds = Some(b)))
      assert(supplied == probed, s"bounds=$b diverged")
    }
    // nulls-first survives non-covering bounds (the clamp keeps -1 for
    // nulls alone — a sub-lo value must NOT outrank a null)
    val withNulls = Seq((Option(-100L), "k"), (None: Option[Long], "k"),
      (Option(5L), "k")).toDF("doc_id", "domain")
    val out = Curation.saltedExactRank(withNulls, "domain", "doc_id", 4,
        orderBounds = Some((0L, 10L)))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(2)))
      .toMap
    assert(out(None) == 1L && out(Some(-100L)) == 2L && out(Some(5L)) == 3L,
      s"nulls-first or sub-lo ordering broke under non-covering bounds: $out")
  }

  test("saltedExactRank: extreme out-of-range values don't wrap past negative bounds (r12 advice)") {
    import spark.implicits._
    // the long-wrap hazard: with supplied bounds (lo negative), a value
    // near Long.MaxValue made `orderCol - mn` wrap negative, landing the
    // row in bucket 0 BELOW moderate values in higher buckets — a silent
    // rank inversion the small-value bounds test could never catch. The
    // value is now clamped into [mn, mx] before the subtraction, so the
    // row rides the top bucket and the within-bucket sort (by the
    // ORIGINAL orderCol) keeps exact order.
    val df = Seq(
      (Long.MaxValue - 1L, "k"), (0L, "k"), (500L, "k"), (2000L, "k"),
      (Long.MinValue + 1L, "k")).toDF("doc_id", "domain")
    for (b <- Seq((-1000L, 1000L), (-1L, 1L))) {
      val got = Curation.saltedExactRank(df, "domain", "doc_id", 8,
          orderBounds = Some(b))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == Map(Long.MinValue + 1L -> 1L, 0L -> 2L, 500L -> 3L,
        2000L -> 4L, (Long.MaxValue - 1L) -> 5L),
        s"bounds=$b mis-ranked extreme values: $got")
    }
  }

  test("saltedExactRank: full-Long-range keys rank exactly, probed OR supplied bounds") {
    import spark.implicits._
    // the PROBED-bounds overflow (r13 review): a 64-bit-hash order key
    // probes mn≈MinValue / mx≈MaxValue, the [mn,mx] span exceeds
    // Long.MaxValue, and the long bucket arithmetic wraps — MaxValue-1
    // silently ranked BEFORE 0. Such spans now bucket in (monotone)
    // double arithmetic; ranks must be exact regardless of span.
    val df = Seq(
      (Long.MinValue + 1L, "k"), (-7L, "k"), (0L, "k"), (12345L, "k"),
      (Long.MaxValue - 1L, "k"),
      (Long.MaxValue - 2L, "j"), (Long.MinValue + 2L, "j")).toDF("doc_id", "domain")
    val expected = Map(
      (Long.MinValue + 1L, "k") -> 1L, (-7L, "k") -> 2L, (0L, "k") -> 3L,
      (12345L, "k") -> 4L, (Long.MaxValue - 1L, "k") -> 5L,
      (Long.MinValue + 2L, "j") -> 1L, (Long.MaxValue - 2L, "j") -> 2L)
    for (b <- Seq(None, Some((Long.MinValue + 1L, Long.MaxValue - 1L)))) {
      for (salts <- Seq(1, 8)) {
        val got = Curation.saltedExactRank(df, "domain", "doc_id", salts,
            orderBounds = b)
          .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
        assert(got == expected,
          s"salts=$salts bounds=$b mis-ranked a full-range key: $got")
      }
    }
    // nulls still rank first when real values span the full range
    val withNull = Seq((Option(Long.MaxValue - 1L), "k"),
      (None: Option[Long], "k"), (Option(Long.MinValue + 1L), "k"))
      .toDF("doc_id", "domain")
    val out = Curation.saltedExactRank(withNull, "domain", "doc_id", 4)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(2)))
      .toMap
    assert(out == Map(None -> 1L, Some(Long.MinValue + 1L) -> 2L,
      Some(Long.MaxValue - 1L) -> 3L), s"nulls-first broke on a full-range key: $out")
  }

  test("saltedExactRank keeps null-order rows, ranked nulls-first (r11 advice)") {
    import spark.implicits._
    // the silent-row-loss hazard: a null orderCol used to yield a null
    // __rb bucket that never matched the inner join-back
    val df = Seq(
      (Option(10L), "a"), (Option(3L), "a"), (None: Option[Long], "a"),
      (None: Option[Long], "b"), (Option(7L), "b"),
      (Option(1L), "c")).toDF("doc_id", "domain")
    for (salts <- Seq(1, 4)) {
      val out = Curation.saltedExactRank(df, "domain", "doc_id", salts)
        .collect().map(r => (r.isNullAt(0), if (r.isNullAt(0)) -1L else r.getLong(0),
          r.getString(1), r.getLong(2)))
      assert(out.length == 6, s"salts=$salts dropped rows: ${out.length}/6")
      // per key: ranks are exactly 1..n, nulls take the smallest ranks
      // (the plain window's ascending nulls-first order)
      for ((k, rs) <- out.groupBy(_._3)) {
        assert(rs.map(_._4).sorted.toSeq == (1L to rs.length).toSeq,
          s"key $k ranks not a permutation: ${rs.toSeq}")
        val nullRanks = rs.filter(_._1).map(_._4)
        assert(nullRanks.forall(nr => rs.filterNot(_._1).map(_._4).forall(nr < _)),
          s"key $k null rows must rank before non-null: ${rs.toSeq}")
      }
      // and non-null order restores the sorted sequence after the nulls
      val aRanks = out.filter(t => t._3 == "a" && !t._1).sortBy(_._2).map(_._4)
      assert(aRanks.toSeq == Seq(2L, 3L))
    }
    // entirely-null order key: every row must still get a DISTINCT rank
    // (the old early-exit returned rank=1 for all of them)
    val allNull = Seq.fill(5)(None: Option[Long]).map((_, "z"))
      .toDF("doc_id", "domain")
    val zr = Curation.saltedExactRank(allNull, "domain", "doc_id", 3)
      .collect().map(_.getLong(2)).sorted
    assert(zr.toSeq == (1L to 5L).toSeq, s"all-null key mis-ranked: ${zr.toSeq}")
  }

  // --- classBounds: the skew-safe min/max attach behind q88/q99's
  //     span-removal keeper test (r10 VERDICT next-round #1)

  /** Positional-shingle-shaped fixture: one hot class owns `hotFrac` of
    * all rows (the license-header 8-gram), a tail of small and singleton
    * classes, plus a same-doc-repeat class (min == max through one doc —
    * must NOT read as shared).
    */
  private def shingleCorpus(n: Int, hotFrac: Double) = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val nHot = (n * hotFrac).toInt
    val rows = (0 until n).map { i =>
      val (h1, h2) =
        if (i < nHot) (1L, 1)                        // the hot class
        else if (i < nHot + 40) (2L, 2)              // warm class
        else if (i < nHot + 44) (3L, 3)              // same-doc repeats
        else (100L + i, i)                           // singleton tail
      val doc = if (h1 == 3L) 7L else rng.nextInt(300).toLong
      (h1, h2, doc, i)
    }
    rng.shuffle(rows).toDF("h1", "h2", "doc_id", "pos")
  }

  test("classBounds == plain window bounds on a hot-class corpus; no Window in the salted plan") {
    val df = shingleCorpus(5000, 0.35)
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .select("h1", "h2", "doc_id", "pos", "keeper", "_mx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5))).sortBy(t => (t._1, t._2, t._4))
    val plain = rows(Curation.plainClassBounds(
      df, Seq("h1", "h2"), "doc_id", "keeper", "_mx"))
    for (salts <- Seq(1, 3, 16)) {
      val salted = Curation.classBounds(df, Seq("h1", "h2"), "doc_id",
        xxhash64(col("doc_id"), col("pos")), "keeper", "_mx", salts)
      assert(rows(salted).toSeq == plain.toSeq, s"salts=$salts diverged")
    }
    // the point of the form: no window partition anywhere (nothing a hot
    // class can pin), and the basis-side join key carries the salt
    val physical = Curation.classBounds(df, Seq("h1", "h2"), "doc_id",
        xxhash64(col("doc_id"), col("pos")), "keeper", "_mx")
      .queryExecution.executedPlan.toString
    assert(!physical.contains("Window"), "salted form must not use a window")
    assert(physical.contains("__salt"), "join must run on the salted key")
  }

  test("classBounds classFilter == post-hoc filter (the shipped q88 shape)") {
    val df = shingleCorpus(3000, 0.35)
    def hits(out: org.apache.spark.sql.DataFrame) = out
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(identity)
    val post = hits(Curation.plainClassBounds(
        df, Seq("h1", "h2"), "doc_id", "keeper", "_mx")
      .filter(col("keeper") =!= col("_mx") && col("doc_id") =!= col("keeper")))
    val pushed = hits(Curation.classBounds(
        df, Seq("h1", "h2"), "doc_id",
        xxhash64(col("doc_id"), col("pos")), "keeper", "_mx",
        classFilter = Some(col("keeper") =!= col("_mx")))
      .filter(col("doc_id") =!= col("keeper")))
    assert(pushed.toSeq == post.toSeq)
  }

  test("classBounds keeps rows whose saltExpr is null (r11 advice)") {
    import spark.implicits._
    // a null salt used to become a null __salt that never matched the
    // join-back — the row vanished while plainClassBounds kept it
    val df = Seq(
      (1L, 1, Option(10L), 100L), (1L, 1, None: Option[Long], 200L),
      (1L, 1, Option(4L), 300L), (2L, 2, None: Option[Long], 400L))
      .toDF("h1", "h2", "salt_src", "doc_id")
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .select("h1", "doc_id", "keeper", "_mx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity)
    val plain = rows(Curation.plainClassBounds(
      df, Seq("h1", "h2"), "doc_id", "keeper", "_mx"))
    for (salts <- Seq(1, 4);
         filt <- Seq(None, Some(col("keeper") =!= col("_mx")))) {
      val salted = rows(Curation.classBounds(df, Seq("h1", "h2"), "doc_id",
        col("salt_src"), "keeper", "_mx", salts, classFilter = filt))
      val expect = filt.fold(plain)(_ => plain.filter(t => t._3 != t._4))
      assert(salted.toSeq == expect.toSeq,
        s"salts=$salts filter=${filt.nonEmpty}: $salted vs $expect")
    }
  }

  test("q88 window and salted span forms agree end-to-end (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    def rows() = graft.queries.PipelineCatalog.q88SpanRemoval(spark, d)
      .collect().map(_.toSeq).toSeq
    try {
      sys.props("graft.span.form") = "window"
      val w = rows()
      sys.props("graft.span.form") = "salted"
      val s = rows()
      assert(w == s, "the two span-removal forms must be value-identical")
      assert(w.nonEmpty)
    } finally sys.props.remove("graft.span.form")
  }

  test("property: classBounds equals a pure-Scala model on random corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(0, 120)
      rows <- Gen.listOfN(n, for {
        h1 <- Gen.choose(0L, 5L)   // few classes -> dense collisions
        h2 <- Gen.choose(0, 2)
        doc <- Gen.choose(-3L, 40L) // negative ids exercise pmod salting
        pos <- Gen.choose(0, 1000)
      } yield (h1, h2, doc, pos))
      salts <- Gen.oneOf(1, 2, 7)
    } yield (rows, salts)
    val prop = Prop.forAll(gen) { case (rows, salts) =>
      val expected = rows.groupBy(r => (r._1, r._2)).flatMap { case (_, rs) =>
        val docs = rs.map(_._3)
        rs.map(r => (r._1, r._2, r._3, r._4, docs.min, docs.max))
      }.toList.sorted
      val got = Curation.classBounds(
          rows.toDF("h1", "h2", "doc_id", "pos"), Seq("h1", "h2"),
          "doc_id", xxhash64(col("doc_id"), col("pos")), "mn", "mx", salts)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
          r.getLong(4), r.getLong(5))).toList.sorted
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("urlDomain: scheme-tolerant, strips userinfo/port/path, lowercases") {
    import spark.implicits._
    val cases = Seq(
      "https://News.Example.COM/a/b" -> "news.example.com",
      "http://user:pw@host.example:8080/x" -> "host.example",
      "s3a://bucket.name/key" -> "bucket.name",
      "ftp://plain.example" -> "plain.example",
      "not a url" -> "")
    val got = cases.map(_._1).toDF("url")
      .select(Curation.urlDomain(col("url"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2), s"got ${got.toSeq}")
  }

  test("saltedPrefixSum == plain exclusive window sum (uniform, clustered, supplied bounds)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // clustered order keys: most ids packed into one narrow range, so
    // most rows share one bucket — the adversarial case the range split
    // degrades on (balance suffers, values must not)
    val uniform = (0 until 3000)
      .map(i => (i.toLong * 7 + 3, rng.nextInt(400).toLong))
    val clustered = (0 until 3000)
      .map(i => (if (i < 2400) 1000000L + i else i.toLong * 977,
        rng.nextInt(400).toLong))
    for ((rows, tag) <- Seq((uniform, "uniform"), (clustered, "clustered"));
         salts <- Seq(1, 4, 16)) {
      val df = rng.shuffle(rows).toDF("id", "w")
      def got(out: org.apache.spark.sql.DataFrame) = out
        .select("id", "w", "ps").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val plain = got(Curation.plainPrefixSum(df, "id", "w", "ps"))
      assert(got(Curation.saltedPrefixSum(df, "id", "w", salts, "ps"))
          .toSeq == plain.toSeq, s"$tag salts=$salts diverged")
      // loose AND non-covering supplied bounds must not change values
      assert(got(Curation.saltedPrefixSum(df, "id", "w", salts, "ps",
          orderBounds = Some((-5000000L, 50000000L)))).toSeq == plain.toSeq,
        s"$tag salts=$salts loose bounds diverged")
      assert(got(Curation.saltedPrefixSum(df, "id", "w", salts, "ps",
          orderBounds = Some((500L, 2000L)))).toSeq == plain.toSeq,
        s"$tag salts=$salts non-covering bounds diverged")
    }
  }

  test("saltedPrefixSum: null order key rides nulls-first; null weight counts 0") {
    import spark.implicits._
    val df = Seq((Some(5L), Some(10L)), (Some(9L), None),
        (None, Some(7L)), (Some(20L), Some(1L)))
      .toDF("id", "w")
    val got = Curation.saltedPrefixSum(df, "id", "w", salts = 4, "ps")
      .collect().map(r => (Option(r.get(0)), r.getLong(2))).toMap
    // null id sorts first (prefix 0); its weight is visible downstream;
    // the null WEIGHT at id=9 contributes nothing to id=20
    assert(got(None) == 0L && got(Some(5L)) == 7L &&
      got(Some(9L)) == 17L && got(Some(20L)) == 17L, s"got $got")
  }

  test("saltedPrefixSum plan: every corpus window partitions by __rb (no global-order task)") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, 3L)).toDF("id", "w")
    val plan = Curation.saltedPrefixSum(df, "id", "w", salts = 8, "ps")
      .queryExecution.sparkPlan
    val wins = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty, "expected window nodes in the salted plan")
    // the offset fold is a collect+array_sort+aggregate over the
    // <= salts+2-row bucket-total frame (no window at all), so EVERY
    // window in the plan must be bucket-partitioned — an unpartitioned
    // one would be the single-task global-order shape this operator
    // exists to avoid (and would log "No Partition Defined")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"corpus-sized window lost its bucket partition:\n$plan")
    assert(wins.exists(w => w.partitionSpec.exists(_.toString.contains("__rb"))),
      s"no window partitions by __rb:\n$plan")
  }

  test("q107 packing: offsets conserve tokens, seq columns match a scalar replay (sf0.001)") {
    val rows = SparkEntry.queries("q107_sequence_packing")(
        spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_tok", "tok_offset", "first_seq", "last_seq",
        "n_seqs", "crosses")
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    var expectOff = 0L
    rows.foreach { r =>
      val (n, off) = (r.getLong(1), r.getLong(2))
      assert(off == expectOff,
        s"doc ${r.getLong(0)}: offset $off != running total $expectOff " +
          "(the packed stream must have no gaps or overlaps)")
      expectOff += n
      val first = off / 512
      assert(r.getLong(3) == first)
      if (n > 0) {
        val last = (off + n - 1) / 512
        assert(r.getLong(4) == last && r.getLong(5) == last - first + 1 &&
          r.getBoolean(6) == (last > first))
      } else assert(r.isNullAt(4) && r.getLong(5) == 0L && !r.getBoolean(6))
    }
  }

  private def redact(texts: Seq[String]): Seq[(Long, Long, String)] = {
    import spark.implicits._
    texts.toDF("t").select(Curation.redactPii(col("t")).as("r"))
      .select("r.n_emails", "r.n_ips", "r.text_clean").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
  }

  test("redactPii: emails and valid IPs replaced, counts = replacements") {
    val got = redact(Seq(
      "mail a.b+tag@example.org and ping 10.0.0.1 then 8.8.8.8 done",
      "no pii here at all",
      "from 172.16.254.1. end"))  // trailing sentence period stays
    assert(got == Seq(
      (1L, 2L, "mail <EMAIL> and ping <IP> then <IP> done"),
      (0L, 0L, "no pii here at all"),
      (0L, 1L, "from <IP>. end")), s"got $got")
  }

  test("redactPii: octet range is exact — 300 survives, 001 is redacted") {
    val got = redact(Seq(
      "bad 10.1.2.300 host",      // invalid octet: nothing redacted
      "pad 192.168.001.5 host",   // zero-padded octet: still a valid IP
      "ver 1.2.3 tag"))           // three components: never an IP
    assert(got == Seq(
      (0L, 0L, "bad 10.1.2.300 host"),
      (0L, 1L, "pad <IP> host"),
      (0L, 0L, "ver 1.2.3 tag")), s"got $got")
  }

  test("redactPii: email pass wins over an IP-shaped local part") {
    // 9.9.9.9@relay… is ONE email and ZERO IPs: the email pass consumes
    // the dotted quad before the IP pass runs (the documented order).
    val got = redact(Seq("sent by 9.9.9.9@relay.example.net today"))
    assert(got == Seq((1L, 0L, "sent by <EMAIL> today")), s"got $got")
  }

  test("redactPii: placeholders are never re-matched by the second pass") {
    // An email whose redaction abuts digits must not synthesize an IP.
    val got = redact(Seq("1.2.3.4 x@y.zw 5.6.7.8"))
    assert(got == Seq((1L, 2L, "<IP> <EMAIL> <IP>")), s"got $got")
  }
}
