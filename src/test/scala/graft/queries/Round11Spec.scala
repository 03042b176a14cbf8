package graft.queries

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-11 query additions, beyond the DuckDB hash
  * gate: structural properties (monotonicity, bounds, subset/permutation
  * invariance) that hold at ANY scale factor, plus small imperative
  * references where the gate's SQL merely replays the same algorithm.
  */
class Round11Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("round11-test", "4")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("q37_streaks: imperative reference on raw (user, day) sets") {
    val rows = Relational.q37Streaks(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val days = Relational.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    assert(rows.keySet == days.keySet)
    days.foreach { case (u, ds) =>
      var longest = 1L; var cur = 1L; var streaks = 1L
      ds.sliding(2).foreach {
        case Vector(a, b) =>
          if (b == a + 1) { cur += 1; longest = math.max(longest, cur) }
          else { streaks += 1; cur = 1 }
        case _ => ()
      }
      assert(rows(u) == (longest, ds.length.toLong, streaks), s"user $u")
    }
  }

  test("stats_gini: uniform masses → 0; all-in-one concentration → high") {
    // build tiny frames through the same rank-weighted integer formula
    import spark.implicits._
    def gini(masses: Seq[Long]): Long = {
      val x = masses.sorted.zipWithIndex.map { case (m, i) => (i + 1L) * m }
      val n = masses.length.toLong; val s = masses.sum
      (10000L * (2L * x.sum - (n + 1L) * s)) / (n * s)
    }
    assert(gini(Seq(10L, 10L, 10L, 10L)) == 0L)
    assert(gini(Seq(1L, 1L, 1L, 997L)) > 7000L)
    // and the query's values are in-range with the right keys
    val out = Profile.statsGini(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val g = r.getAs[Long]("gini_bp")
      assert(g >= 0L && g < 10000L)
    }
  }

  test("stats_heaps: vocab and token curves are monotone; final vocab = corpus distinct") {
    val rows = Profile.statsHeaps(spark, dir).orderBy("checkpoint_docs").collect()
    val vocab = rows.map(_.getAs[Long]("vocab"))
    val toks = rows.map(_.getAs[Long]("total_tokens"))
    assert(vocab.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
    assert(toks.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
    val distinctToks = Relational.t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).select("t").distinct().count()
    assert(vocab.last == distinctToks)
    // Heaps' law direction: types grow sub-linearly vs instances
    assert(vocab.last.toDouble / vocab.head < toks.last.toDouble / toks.head)
  }

  test("sim_recall_eval: bounds, and full-probe ivf implies high recall floor") {
    val rows = Similarity.recallEval(spark, dir).collect()
    assert(rows.map(_.getAs[String]("method")).distinct.sorted.toSeq ==
      Seq("ivf", "lsh"))
    rows.foreach { r =>
      val bp = r.getAs[Long]("recall_bp")
      assert(bp >= 0L && bp <= 10000L)
      assert(bp == r.getAs[Long]("hits") * 1000L)
    }
  }

  test("curate_rejection_sample: deterministic subset, acceptance matches predicate") {
    val a = Curation.rejectionSample(spark, dir).collect()
    val b = Curation.rejectionSample(spark, dir).collect()
    assert(a.toSeq == b.toSeq)
    val P = 1073741789L
    a.foreach { r =>
      val id = r.getAs[Long]("doc_id"); val w = r.getAs[Long]("w_bp")
      assert((id % P) * 2654435761L % P % 10000L < w)
      assert(w <= 9999L)
    }
    val total = Relational.t(spark, dir, "documents").count()
    assert(a.length > 0 && a.length < total)
  }

  test("stats_checksum: invariant under input permutation/partitioning") {
    val base = Profile.statsChecksum(spark, dir).collect().toSeq
    // same rows, shuffled partitioning: order-independent aggregates must
    // produce the identical checksum table
    val shuffled = Relational.t(spark, dir, "documents")
      .repartition(7, col("doc_id"))
      .select(col("source"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("cnt"),
        expr("bit_xor(h)").as("xor_h"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"))
      .orderBy("source").collect().toSeq
    assert(base == shuffled)
  }

  test("text_novelty: first doc fully novel, counts bounded, corpus-additive") {
    val rows = TextAnalysis.novelty(spark, dir).collect()
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("novelty_bp") == 10000L)
    rows.foreach { r =>
      assert(r.getAs[Long]("novel") <= r.getAs[Long]("n_shingles"))
      assert(r.getAs[Long]("novelty_bp") <= 10000L)
    }
    // sum of novel over docs = corpus distinct shingles
    val distinctShingles = graft.queries.Dedup.docsWithShingles(spark, dir)
      .select(explode(col("sh")).as("ng")).select("ng").distinct().count()
    assert(rows.map(_.getAs[Long]("novel")).sum == distinctShingles)
  }

  test("mm_phash_pairs: pairs are band-sharing, hd symmetric-free and exact") {
    val rows = TextAnalysis.mmPhashPairs(spark, dir).collect()
    assert(rows.nonEmpty)
    val ph = Relational.t(spark, dir, "documents")
      .select(col("doc_id"),
        conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("ph"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
      assert(a < b)
      val hd = java.lang.Long.bitCount(ph(a) ^ ph(b))
      assert(r.getAs[Int]("hd") == hd)
      // candidate ⇒ at least one identical 15-bit band
      val shared = (0 until 4).exists(i =>
        ((ph(a) >> (i * 15)) & 32767L) == ((ph(b) >> (i * 15)) & 32767L))
      assert(shared)
      assert((r.getAs[Int]("is_dup") == 1) == (hd <= 6))
    }
  }

  test("q38_range_frame: trailing window brute-force reference per user") {
    val out = Relational.q38RangeFrame(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val evs = Relational.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        floor(col("value") * lit(100)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = evs.groupBy(_._2)
    byUser.values.foreach { es =>
      es.foreach { case (id, _, us, _) =>
        val in = es.filter(e => e._3 >= us - 86400000000L && e._3 <= us)
        assert(out(id) == (in.length.toLong, in.map(_._4).sum), s"event $id")
      }
    }
  }

  test("curate_bloom_decon: no false negatives vs exact decontaminate") {
    val exact = Curation.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Curation.bloomDecontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bloom_hits"), r.getAs[Long]("exact_hits"),
          r.getAs[Long]("false_pos"))).toMap
    // a Bloom filter never misses: every exactly-contaminated doc is
    // flagged, with the identical exact hit count
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id), s"doc $id missed by the bloom prefilter")
      assert(bloom(id)._2 == n, s"doc $id exact_hits")
    }
    // and conversely the exact_hits column IS the exact result
    bloom.foreach { case (id, (bh, eh, fp)) =>
      assert(eh == exact.getOrElse(id, 0L))
      assert(fp == bh - eh && fp >= 0L)
    }
  }

  test("sim_range_search: full probe == brute-force eps-ball; probed is a subset") {
    val th = 0.25
    // brute-force ε-ball over the 3 query vectors
    val e = Relational.t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val bf = e.crossJoin(q).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.CosineSimilarity(col("embedding"), col("qv")).as("sim"))
      .filter(col("sim") >= th)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfRangeSearch(spark, dir,
        probe = Similarity.IvfCells).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == bf, "full-probe range search must equal brute force")
    val probed = Similarity.ivfRangeSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed.subsetOf(full))
    assert(probed.size * 2 >= full.size,
      s"probed recall ${probed.size}/${full.size} too low")
  }

  test("text_winnowing: imperative winnowing reference; density bounds") {
    val win = 4
    val out = TextAnalysis.winnowing(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // recompute from the raw span-hash arrays with a direct loop
    val hs = Relational.t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 8)
      .select(col("doc_id"),
        graft.functions.TextFunctions.spanHashes(col("text"), 5).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(out.keySet == hs.keySet)
    hs.foreach { case (id, h) =>
      val sel = (0 to h.length - win).map { j =>
        var mv = Long.MaxValue; var mp = -1
        for (p <- j until j + win) if (h(p) <= mv) { mv = h(p); mp = p }
        mp
      }.distinct
      val fpXor = sel.map(h).foldLeft(0L)(_ ^ _)
      assert(out(id) == (h.length.toLong, sel.length.toLong, fpXor), s"doc $id")
      // a position repeats across at most `win` windows
      assert(sel.length.toLong * win >= (h.length - win + 1).toLong)
    }
  }

  test("text_pii_report: planted incidence recovered exactly per source") {
    val planted = Relational.t(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)).as("pe"),
        sum(when(col("doc_id") % 11 === 0, 1L).otherwise(0L)).as("pp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val rep = TextAnalysis.piiReport(spark, dir).collect()
    assert(rep.map(_.getString(0)).toSet == planted.keySet)
    rep.foreach { r =>
      val (n, pe, pp) = planted(r.getString(0))
      assert(r.getAs[Long]("n_docs") == n)
      // the fixture corpus itself is PII-free: detector counts == planted
      assert(r.getAs[Long]("docs_email") == pe)
      assert(r.getAs[Long]("docs_phone") == pp)
      assert(r.getAs[Long]("pii_docs_bp") <= 10000L)
    }
  }

  test("stats_key_skew: imperative top-10 reference") {
    val byKey = Relational.events(spark, dir).groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = byKey.map(_._2).sum
    val ref = byKey.sortBy { case (u, c) => (-c, u) }.take(10)
    val out = Profile.keySkew(spark, dir).collect()
    assert(out.length == 10)
    out.zip(ref).zipWithIndex.foreach { case ((r, (u, c)), i) =>
      assert(r.getAs[Int]("rk") == i + 1)
      assert(r.getAs[Long]("user_id") == u && r.getAs[Long]("cnt") == c)
      assert(r.getAs[Long]("share_bp") == c * 10000L / total)
      assert(r.getAs[Int]("hot") ==
        (if (c * byKey.length > total * 2) 1 else 0))
    }
  }

  test("sim_knn_incr: full probe == brute-force increment kNN; increment rows only") {
    val e = Relational.t(spark, dir, "embeddings")
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val split = (maxId + 1L) * 8L / 10L
    val out = Similarity.knnGraphIncremental(spark, dir).collect()
    assert(out.nonEmpty && out.forall(_.getLong(0) >= split),
      "incremental graph must contain increment rows only")
    // probing every cell is exhaustive regardless of where the (corpus-
    // trained) centroids sit — must equal brute-force kNN of the
    // increment over the full corpus
    val full = Similarity.knnGraphIncremental(spark, dir,
        probe = Similarity.IvfCells).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val q = e.filter(col("vec_id") >= split)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val bf = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.CosineSimilarity(col("embedding"), col("qv")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .orderBy("qid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(full.toSeq == bf.toSeq)
  }

  test("lake point lookup and restore/evolution snapshots are consistent") {
    // point lookup returns exactly the snapshot slice for the key
    val pl = LakeQueries.lakePointLookup(spark, dir).collect()
    assert(pl.nonEmpty && pl.forall(_.getAs[Long]("l_orderkey") == 42L))
    // restore: no commit after the restore target remains on the timeline
    val restored = LakeQueries.lakeRestore(spark, dir)
    assert(restored.filter(col("l_orderkey") < 200 && col("l_orderkey") >= 0)
      .count() > 0) // the deleted slice is back
    // schema evolution: l_tier null exactly on the untouched keys
    val evo = LakeQueries.lakeSchemaEvolution(spark, dir)
    assert(evo.filter(col("l_orderkey") >= 500 && col("l_tier").isNotNull)
      .count() == 0)
    assert(evo.filter(col("l_orderkey") < 500 && col("l_tier").isNull)
      .count() == 0)
  }

  test("sim_components: converged labels — edge-consistent, min-id, sizes exact") {
    val comp = Similarity.components(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = Similarity.components(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every graph edge's endpoints carry the same component label
    // (convergence at this SF — 8 rounds past the diameter)
    val edges = Similarity.stagedKnnGraph(spark, dir)
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"edge ($a,$b) crosses components") }
    // the label is the component's min member id
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(c == members.keys.min, s"component $c label != min id") }
    // sizes match the member counts
    val bySize = comp.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    comp.keys.foreach { v => assert(sizes(v) == bySize(comp(v))) }
  }

  test("q40_transitions: imperative Markov reference on collected events") {
    val rows = Relational.q40Transitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val ev = Relational.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val ref = ev.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._4, e._2)).sliding(2).collect {
        case Array(a, b) => (a._3, b._3)
      }
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.keySet == ref.keySet)
    val fromTotals = ref.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    ref.foreach { case (k, n) =>
      assert(rows(k) == ((n, n * 10000L / fromTotals(k._1))), s"pair $k") }
  }

  test("stats_benford: shares sum to ~10000, constants are floor(log10(1+1/d))") {
    val rows = Profile.statsBenford(spark, dir).orderBy("digit").collect()
    assert(rows.nonEmpty && rows.length <= 9)
    val total = rows.map(_.getAs[Long]("n")).sum
    val shareSum = rows.map(_.getAs[Long]("share_bp")).sum
    assert(shareSum <= 10000L && shareSum > 10000L - rows.length)
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      val expect = math.floor(math.log10(1.0 + 1.0 / d) * 10000).toLong
      assert(r.getAs[Long]("benford_bp") == expect, s"digit $d")
      assert(r.getAs[Long]("share_bp") == r.getAs[Long]("n") * 10000L / total)
      assert(r.getAs[Long]("dev_bp") ==
        math.abs(r.getAs[Long]("share_bp") - r.getAs[Long]("benford_bp")))
    }
  }

  test("stats_moments: BigInt reference over collected projections") {
    val rows = Profile.statsMoments(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val li = Relational.t(spark, dir, "lineitem").select(
      col("l_quantity").cast("long"),
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
      expr("CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)")).collect()
      .map(r => Map("qty" -> BigInt(r.getLong(0)),
        "price_c" -> BigInt(r.getLong(1)), "disc_bp" -> BigInt(r.getLong(2))))
    for ((x, y) <- Seq(("qty", "price_c"), ("qty", "disc_bp"),
        ("price_c", "disc_bp"))) {
      val r = rows((x, y))
      val n = BigInt(li.length)
      val sx = li.map(_(x)).sum; val sy = li.map(_(y)).sum
      val sxy = li.map(m => m(x) * m(y)).sum
      // Sums are emitted as canonical STRINGs (the gate's hasher
      // canonicalizes decimal128 vs HUGEINT->DECIMAL differently).
      assert(BigInt(r.getAs[String]("sx")) == sx)
      assert(BigInt(r.getAs[String]("sy")) == sy)
      assert(BigInt(r.getAs[String]("sxy")) == sxy)
      assert(BigInt(r.getAs[String]("sxx")) == li.map(m => m(x) * m(x)).sum)
      assert(BigInt(r.getAs[String]("syy")) == li.map(m => m(y) * m(y)).sum)
      assert(BigInt(r.getAs[String]("cov_num")) == n * sxy - sx * sy)
      assert(r.getAs[Long]("n") == li.length.toLong)
    }
  }

  test("text_boilerplate: planted template is scrubbed, organic text untouched") {
    import spark.implicits._
    // 10 docs in one source, 8 carry the same leading template trigram;
    // a second source shares no trigram across docs
    val template = "cookie banner notice"
    val docs = ((0 until 10).map { i =>
      val body = s"alpha$i beta$i gamma$i delta$i epsilon$i"
      val text = if (i < 8) s"$template $body" else body
      (i.toLong, "siteA", text)
    } ++ (10 until 14).map { i =>
      (i.toLong, "siteB", s"u$i v$i w$i x$i y$i z$i")
    }).toDF("doc_id", "source", "text")
    val out = TextAnalysis.boilerplateFor(docs, 3, 12, 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    for (i <- 0L until 8L) {
      assert(out(i)._1 == 8L && out(i)._2 == 3L, s"doc $i spans")
      val bodyMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"alpha$i beta$i gamma$i delta$i epsilon$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(out(i)._3 == bodyMd5, s"doc $i cleaned text")
    }
    // non-template docs and the clean source lose nothing
    ((8L until 14L)).foreach { i => assert(out(i)._2 == 0L, s"doc $i") }
    // corpus run: a doc with zero removals keeps its original text hash
    val corpus = Relational.t(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("orig"))
    val full = TextAnalysis.boilerplate(spark, dir)
    val untouched = full.filter(col("n_removed") === 0)
      .join(corpus, "doc_id")
      .filter(col("clean_md5") =!= col("orig"))
    assert(untouched.count() == 0)
    assert(full.count() == corpus.count())
  }

  test("text_nb_classify: planted class vocab recovered; corpus output well-formed") {
    import spark.implicits._
    // two classes with disjoint content vocabulary + shared filler:
    // NB must recover every label
    val docs = (0 until 20).map { i =>
      val cls = if (i % 2 == 0) "aa" else "bb"
      val word = if (i % 2 == 0) s"alpha${i % 3}" else s"beta${i % 3}"
      (i.toLong, cls, s"$word $word common filler $word")
    }.toDF("doc_id", "lang", "text")
    val out = TextAnalysis.nbClassifyFor(spark, docs).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getAs[String]("pred") == r.getAs[String]("lang"))
      assert(r.getAs[Int]("correct") == 1)
      assert(r.getAs[Long]("bits_q4") > 0L)
    }
    // corpus run: one row per doc, pred drawn from the observed classes
    val langs = Relational.t(spark, dir, "documents")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    val corpus = TextAnalysis.nbClassify(spark, dir).collect()
    assert(corpus.length ==
      Relational.t(spark, dir, "documents").count().toInt)
    assert(corpus.forall(r => langs(r.getAs[String]("pred"))))
  }

  test("stats_mad_outliers: medians and flags match a BigInt reference") {
    val rows = Profile.statsMadOutliers(spark, dir).collect()
    assert(rows.length == 20)
    val cents = Relational.t(spark, dir, "orders")
      .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
      .collect().map(_.getLong(0)).sorted
    def lowerMedian(xs: Array[Long]): Long = xs((xs.length + 1) / 2 - 1)
    val med = lowerMedian(cents)
    val mad = lowerMedian(cents.map(c => math.abs(c - med)).sorted)
    rows.foreach { r =>
      assert(r.getAs[Long]("med") == med)
      assert(r.getAs[Long]("mad") == mad)
      assert(r.getAs[Long]("dev") == math.abs(r.getAs[Long]("cents") - med))
      assert((r.getAs[Int]("is_outlier") == 1) == (r.getAs[Long]("dev") > 3 * mad))
    }
    // rk 1 carries the global max deviation
    assert(rows.map(_.getAs[Long]("dev")).max ==
      rows.find(_.getAs[Int]("rk") == 1).get.getAs[Long]("dev"))
  }

  test("q41_sliding_distinct: trailing-7d reference from collected activity") {
    val act = Relational.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val rows = Relational.q41SlidingDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maxD = act.map(_._2).max
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    val expected = act.flatMap { case (u, d) =>
      (0 to 6).map(o => (u, d.plusDays(o.toLong)))
    }.filter(!_._2.isAfter(maxD)).distinct
      .groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong).toMap
    val u1 = act.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(rows.keySet == expected.keySet.map(_.format(fmt)))
    expected.foreach { case (day, n) =>
      assert(rows(day.format(fmt)) ==
        ((u1.getOrElse(day, 0L), n)), s"day $day")
    }
  }

  test("stats_rate_spike: imperative trailing-baseline reference; planted burst flagged") {
    val rows = Profile.rateSpike(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    val hourly = Relational.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) DIV 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    hourly.groupBy(_._1._1).foreach { case (tpe, hs) =>
      val ordered = hs.toSeq.map { case ((_, hr), c) => (hr, c) }.sortBy(_._1)
      ordered.zipWithIndex.foreach { case ((hr, c), i) =>
        val base = ordered.slice(math.max(0, i - 24), i)
        val (bh, bs) = (base.length.toLong, base.map(_._2).sum)
        val spike = if (bh >= 6 && c * bh > bs * 3) 1 else 0
        assert(rows((tpe, hr)) == ((c, bh, bs, spike)), s"($tpe, $hr)")
      }
    }
    // the flag logic fires on a synthetic burst: 24 quiet hours then 10x
    val quiet = (0 until 24).map(h => (h.toLong, 2L))
    val burst = (24L, 20L)
    val bh = quiet.length.toLong; val bs = quiet.map(_._2).sum
    assert(burst._2 * bh > bs * 3)
  }

  test("plan shapes: boilerplate broadcasts the source-count side; sliding distinct has no cartesian blowup") {
    val docs = Relational.t(spark, dir, "documents")
      .select("doc_id", "source", "text")
    // explain-only keeps the lazy plan inspectable (the default
    // checkpoints the result and releases the token cache)
    spark.conf.set(graft.util.Materialize.ExplainOnlyConf, "true")
    try {
      val bp = TextAnalysis.boilerplateFor(docs, 3, 12, 3)
      assert(bp.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "source-doc-count join should broadcast")
    } finally spark.conf.unset(graft.util.Materialize.ExplainOnlyConf)
    val sd = Relational.q41SlidingDistinct(spark, dir)
    val plan = sd.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "fan-out form must not introduce a cartesian join")
  }

  test("text_rake_keyphrases: imperative RAKE reference; structural invariants") {
    val out = TextAnalysis.rakeKeyphrases(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // invariants: contiguous ranks, stopword-free phrases, len == tokens
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq)
    }
    out.foreach { case (_, _, phrase, len, score) =>
      val ws = phrase.split(" ")
      assert(ws.length.toLong == len && len <= 4)
      assert(!ws.exists(TextAnalysis.Stopwords.contains))
      assert(score > 0)
    }
    // imperative reference for a handful of docs
    val docs = Relational.t(spark, dir, "documents")
      .filter(col("doc_id") < 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    docs.foreach { case (id, text) =>
      val toks = text.split(" ")
      val phrases = scala.collection.mutable.ArrayBuffer[Array[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      toks.foreach { t =>
        if (TextAnalysis.Stopwords.contains(t)) {
          if (cur.nonEmpty) { phrases += cur.toArray; cur = scala.collection.mutable.ArrayBuffer() }
        } else cur += t
      }
      if (cur.nonEmpty) phrases += cur.toArray
      val kept = phrases.filter(_.length <= 4)
      val freq = kept.flatten.groupBy(identity).view.mapValues(_.size.toLong)
      val deg = kept.flatMap(p => p.map(w => w -> p.length.toLong))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      def wscore(w: String) = deg(w) * 16L / freq(w)
      val scored = kept.map(p => (p.mkString(" "), p.map(wscore).sum))
      val top = scored.sortBy { case (ph, sc) => (-sc, ph) }.take(3)
      val got = out.filter(_._1 == id).sortBy(_._2)
        .map(r => (r._3, r._5)).toSeq
      assert(got == top.toSeq, s"doc $id")
    }
  }

  test("curate_uncertainty: aggregate best/runner-up equals the window form") {
    // r17: nbUncertainty replaced the rn<=2 window + self-join with one
    // collect_list/array_sort aggregate. Pin the equivalence on the real
    // corpus: selection from the aggregate == selection from the window
    // over the same surprise table (same total order, ties and all).
    import org.apache.spark.sql.expressions.Window
    val scores = TextAnalysis.nbScores(spark,
      Relational.t(spark, dir, "documents").select("doc_id", "lang", "text"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("bits_q4").asc, col("cand").asc)
    val ranked = scores
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val windowForm = ranked.filter(col("rn") === 1)
      .select(col("doc_id"), col("cand").as("pred"),
        col("bits_q4").as("best_q4"))
      .join(ranked.filter(col("rn") === 2)
        .select(col("doc_id"), col("cand").as("runner_up"),
          col("bits_q4").as("second_q4")), "doc_id")
      .select("doc_id", "pred", "best_q4", "runner_up", "second_q4")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getString(3), r.getLong(4))).toMap
    val unc = TextAnalysis.nbUncertainty(spark, dir).collect()
    assert(unc.nonEmpty)
    unc.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val got = (r.getAs[String]("pred"), r.getAs[Long]("best_q4"),
        r.getAs[String]("runner_up"), r.getAs[Long]("second_q4"))
      assert(windowForm(id) == got, s"doc $id")
    }
  }

  test("curate_uncertainty: margins ordered, consistent with the classifier") {
    val unc = TextAnalysis.nbUncertainty(spark, dir).collect()
    assert(unc.length == 50)
    val margins = unc.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("margin_q4"))
    assert(margins.forall(_ >= 0L))
    assert(margins.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
    unc.foreach { r =>
      assert(r.getAs[Long]("second_q4") >= r.getAs[Long]("best_q4"))
      assert(r.getAs[String]("pred") != r.getAs[String]("runner_up"))
    }
    // pred agrees with the classifier on the selected docs
    val preds = TextAnalysis.nbClassify(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("pred")).toMap
    unc.foreach { r =>
      assert(preds(r.getAs[Long]("doc_id")) == r.getAs[String]("pred"))
    }
  }

  test("sim_probe_sweep: monotone recall/cost, exhaustive at full probe") {
    val rows = Similarity.probeSweep(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val n = Relational.t(spark, dir, "embeddings").count()
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val byProbe = rs.sortBy(_._1)
      // recall and candidate volume never decrease as the probe widens
      assert(byProbe.map(_._3).sliding(2)
        .forall { case Array(a, b) => a <= b; case _ => true })
      assert(byProbe.map(_._4).sliding(2)
        .forall { case Array(a, b) => a <= b; case _ => true })
      // full probe scans the whole corpus and recovers the exact top-10
      val full = byProbe.last
      assert(full._1 == Similarity.IvfCells)
      assert(full._3 == 10L && full._4 == n)
    }
  }

  test("stats_join_size: total equals the executed join's count; contributions exact") {
    val rows = Profile.statsJoinSize(spark, dir).collect()
    assert(rows.length == 10)
    val li = Relational.t(spark, dir, "lineitem")
    val p = Relational.t(spark, dir, "part")
    val actual = li.join(p, col("l_partkey") === col("p_partkey")).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("total_rows") == actual)
      assert(r.getAs[Long]("contrib") ==
        r.getAs[Long]("cnt_a") * r.getAs[Long]("cnt_b"))
    }
    // per-key counts check out against direct groupBys for the top key
    val top = rows.minBy(_.getAs[Int]("rk"))
    val k = top.getAs[Long]("key")
    assert(li.filter(col("l_partkey") === k).count() == top.getAs[Long]("cnt_a"))
    assert(p.filter(col("p_partkey") === k).count() == top.getAs[Long]("cnt_b"))
  }

  test("stats_join_size_sketch: estimate lands near the exact size; exact side agrees") {
    val r = Profile.statsJoinSizeSketch(spark, dir).collect()
    assert(r.length == 1)
    val exact = r.head.getAs[Long]("exact_rows")
    val est = r.head.getAs[Long]("est_rows")
    val errBp = r.head.getAs[Long]("err_bp")
    assert(errBp == math.abs(est - exact) * 10000L / exact)
    // the exact side must equal the key-count product sum of statsJoinSize
    val total = Profile.statsJoinSize(spark, dir).collect()
      .head.getAs[Long]("total_rows")
    assert(exact == total)
    // AGMS with a random-behaving hash: median of 5 rows stays within
    // 20% at these sizes (measured ~2-4%; bound leaves variance room)
    assert(errBp < 2000L, s"estimate off by $errBp bp")
  }

  test("lake_vacuum: post-clean snapshot equals the merged state exactly") {
    val vac = LakeQueries.lakeVacuum(spark, dir).collect()
    val merged = LakeQueries.lakeMergeSnapshot(spark, dir).collect()
    assert(vac.length == merged.length)
    vac.zip(merged).foreach { case (a, b) => assert(a == b) }
  }

  test("sim_filtered_topk: full probe == brute force with the label filter") {
    val full = Similarity
      .filteredTopK(spark, dir, probe = Similarity.IvfCells).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(4)))
    val e = Relational.t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("q_label"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val bf = e.crossJoin(q)
      .filter(col("vec_id") =!= col("qid") && col("label") === col("q_label"))
      .select(col("qid"), col("vec_id"), col("label"),
        graft.functions.CosineSimilarity(col("embedding"), col("qv")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .orderBy("qid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(4)))
    assert(full.toSeq == bf.toSeq)
    // the probed result is label-pure: every row carries its query's label
    val qlabels = q.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    Similarity.filteredTopK(spark, dir).collect().foreach { r =>
      assert(r.getInt(2) == qlabels(r.getLong(0)))
    }
  }

  test("curate_curriculum: balanced phases, monotone difficulty, contiguous positions") {
    val rows = Curation.curriculum(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getInt(4)))
    val byPhase = rows.groupBy(_._3)
    assert(byPhase.keySet == (1 to 5).toSet)
    // whole-value phases (round 13): equal difficulties never straddle a
    // boundary, so imbalance is bounded by the largest difficulty tie
    // group, not ±1
    val sizes = byPhase.view.mapValues(_.length).values.toSeq
    val maxTie = rows.groupBy(_._2).values.map(_.length).max
    assert(sizes.max - sizes.min <= math.max(1, maxTie),
      s"phase sizes $sizes exceed tie-group bound $maxTie")
    // difficulty never decreases across phase boundaries
    val maxByPhase = byPhase.view.mapValues(_.map(_._2).max).toMap
    val minByPhase = byPhase.view.mapValues(_.map(_._2).min).toMap
    (1 to 4).foreach { p => assert(maxByPhase(p) <= minByPhase(p + 1)) }
    // in-phase positions are 1..size and follow (difficulty, doc_id)
    byPhase.foreach { case (_, ms) =>
      val sorted = ms.sortBy(m => (m._2, m._1))
      assert(sorted.map(_._4).toSeq == (1 to ms.length).toSeq)
    }
  }
}
