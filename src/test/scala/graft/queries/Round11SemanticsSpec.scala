package graft.queries

import graft.{SparkEntry, SparkSpec, TempDirs}
import org.apache.spark.sql.functions._

/** Round-11 operator semantics: semantic decontamination (benchmark
  * sample membership, threshold, tie-break) and the sketch-backed
  * grouped profiler (exactness below k, quantile ordering, bounds). */
class Round11SemanticsSpec extends SparkSpec with TempDirs {

  private def benchIds(): Set[Long] = {
    val emb = graft.Tables.embeddings(spark, sf)
    val n = emb.count()
    val m = math.max(1L, java.lang.Long.highestOneBit(n / 250L))
    emb.select(col("vec_id"))
      .where(conv(substring(md5(concat(lit("decon:"), col("vec_id"))), 1, 13),
        16, 10).cast("long") % m === 0)
      .collect().map(_.getLong(0)).toSet
  }

  test("decontam_semantic: flagged docs are corpus-side, matches are bench-side") {
    val bench = benchIds()
    val out = SparkEntry.queries("q_text_decontam_semantic")(spark, sf).collect()
    assert(out.nonEmpty, "fixture must exercise the contamination band")
    for (r <- out) {
      val vid = r.getAs[Long]("vec_id")
      val bid = r.getAs[Long]("top_bench_id")
      assert(!bench.contains(vid), s"flagged doc $vid is in the benchmark")
      assert(bench.contains(bid), s"top match $bid is not in the benchmark")
      assert(r.getAs[Long]("n_bench_hits") >= 1L)
      // verified pairs enter at the τ = 0.45 gate threshold
      assert(r.getAs[Long]("top_cos_micro") >= 450000L)
    }
  }

  test("decontam_semantic: top match is the argmax by (cos, bench id)") {
    // recompute the directed hit set through the same pair table and
    // check the kept (bid, cm) dominates every hit of its doc
    val out = SparkEntry.queries("q_text_decontam_semantic")(spark, sf)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("top_cos_micro"), r.getAs[Long]("top_bench_id"))).toMap
    val bench = benchIds()
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val e = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((vid, (cm, bid)) <- out) {
      val hits = for {
        b <- bench.toSeq
        c = cos(e(b), e(vid)) if c >= 0.45
      } yield (math.floor(c * 1e6 + 0.5).toLong, b)
      assert(hits.nonEmpty && hits.max == ((cm, bid)),
        s"doc $vid: kept ($cm,$bid) but exact argmax is ${hits.sorted.lastOption}")
    }
  }

  test("prefix_filter stratum: sampled branch matches an independent md5") {
    // force the >cap branch at fixture scale (cap = 0) and verify the
    // engine's sample predicate against a JVM-side MessageDigest md5 —
    // the arithmetic the sf1 gate rides (52-bit md5 prefix mod m; 13
    // hex nibbles so the modulus can't saturate before m = 2^52,
    // ADVICE r11)
    import spark.implicits._
    val raw = (1L to 200L).grouped(2).map(g => (g(0), g(1))).toSeq
    val pairs = raw.toDF("ida", "idb")
    val n = 4000L // → m = highestOneBit(16) = 16
    val m = java.lang.Long.highestOneBit(n / 250L)
    assert(m == 16L)
    def jvmInSample(id: Long): Boolean = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pfx:$id".getBytes("UTF-8"))
      val hex13 = dig.take(7).map(b => f"$b%02x").mkString.take(13)
      java.lang.Long.parseLong(hex13, 16) % m == 0
    }
    val got = DedupQueries.prefixProofStratum(pairs, n, cap = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = raw.filter { case (a, b) => jvmInSample(a) || jvmInSample(b) }
      .toSet
    assert(exp.nonEmpty && exp.size < raw.size,
      "fixture must exercise both kept and dropped pairs")
    assert(got == exp)
    // identity below the cap
    assert(DedupQueries.prefixProofStratum(pairs, n, cap = 10000L)
      .count() == raw.size.toLong)
  }

  test("profile_sketch: NULL n_chars rows stay out of the sample (both engines)") {
    // ADVICE r11: the oracle's bottom-k CTE admitted NULL-n_chars rows
    // into the 256-slot sample (the aggregate skips them), silently
    // green because fixtures carry zero nulls. This fixture has nulls:
    // lang "aa" mixes values and nulls (sample = non-null rows only),
    // lang "zz" is ALL null (engine emits an empty-sample zeros row;
    // the oracle LEFT JOIN + coalesce must mirror it). The expected
    // quantiles replay the oracle's rank reads over the NULL-FILTERED
    // sample in plain Scala.
    import spark.implicits._
    val dir = tempDir("profnull")
    val rows =
      (1L to 40L).map(i => (i, s"t$i", "aa", "s",
        if (i % 4 == 0L) None else Some(i * 10L))) ++
      (41L to 44L).map(i => (i, s"t$i", "zz", "s", None: Option[Long]))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_eng_profile_sketch")(spark, dir)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(out.keySet == Set("aa", "zz"))
    val aa = out("aa")
    val aaVals = rows.filter(_._3 == "aa").flatMap(_._5)
    assert(aa.getAs[Long]("n") == 40L)
    assert(aa.getAs[Long]("n_nulls") == 10L)
    // oracle replay: all 30 non-null rows fit in k = 256, so the sample
    // is exact and rank p reads sorted((m-1)*p DIV 100)
    val sorted = aaVals.sorted
    def exact(p: Int) = sorted(((sorted.size - 1) * p) / 100)
    assert(Seq("q25", "q50", "q75", "q90").map(aa.getAs[Long]) ==
      Seq(exact(25), exact(50), exact(75), exact(90)))
    val zz = out("zz")
    assert(zz.getAs[Long]("n") == 4L && zz.getAs[Long]("n_nulls") == 4L)
    assert(zz.isNullAt(zz.fieldIndex("min_val")) &&
      zz.isNullAt(zz.fieldIndex("max_val")))
    // getAs[Long] would unbox a NULL to 0L and silently pass — assert
    // non-null FIRST so this pins actual zeros, not nulls (ADVICE r12)
    for (q <- Seq("q25", "q50", "q75", "q90"))
      assert(!zz.isNullAt(zz.fieldIndex(q)),
        s"$q must be a real zero, not NULL")
    assert(Seq("q25", "q50", "q75", "q90").map(zz.getAs[Long]) ==
      Seq(0L, 0L, 0L, 0L), "empty sample must read as zeros")
  }

  test("profile_sketch: quantile ordering, bounds, exactness below k") {
    val out = SparkEntry.queries("q_eng_profile_sketch")(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars")).collect()
      .groupBy(_.getString(0)).map { case (l, rs) =>
        l -> rs.map(_.getLong(1)).sorted }
    for (r <- out) {
      val lang = r.getAs[String]("lang")
      val vals = docs(lang)
      assert(r.getAs[Long]("n") == vals.length)
      assert(r.getAs[Long]("n_nulls") == 0L)
      assert(r.getAs[Long]("n_distinct") == vals.distinct.length)
      assert(r.getAs[Long]("min_val") == vals.head)
      assert(r.getAs[Long]("max_val") == vals.last)
      val qs = Seq("q25", "q50", "q75", "q90").map(r.getAs[Long])
      assert(qs == qs.sorted, s"$lang quantiles out of order: $qs")
      assert(qs.head >= vals.head && qs.last <= vals.last)
      if (vals.length <= 256) {
        // groups at or below the sketch size are EXACT: rank read
        // idx = (m-1)*p DIV 100 over the sorted group
        def exact(p: Int) = vals(((vals.length - 1) * p) / 100)
        assert(qs == Seq(exact(25), exact(50), exact(75), exact(90)),
          s"$lang: sketch not exact below k")
      }
    }
  }
}
