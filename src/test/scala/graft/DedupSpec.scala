package graft

import graft.functions.{Components, TextSim}
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Production dedup composition (round-2 verdict items 1-2): the
  * LSH-fed canonicalization must produce the exact-fed relation, and
  * the exact-dup collapse ahead of the sketch tiers must keep candidate
  * volume linear when a corpus contains a mass-duplicate cluster.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  test("LSH-fed canonicalization equals exact-fed labels (q69 == q67)") {
    val exact = SparkEntry.queries("q67_neardup_components")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q69_neardup_canonical_lsh")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "sf0.001 must contain planted near-dup clusters")
    assert(lsh === exact)
  }

  test("prefix-filtered exact Jaccard equals the all-pairs relation (q61/q67 feed)") {
    // The round-13 de-quadratic: jaccardPairsPrefix must reproduce
    // TextSim.jaccardPairs BIT-IDENTICALLY (same pairs, same rounded
    // jaccard) at both production thresholds — the pigeonhole
    // completeness proof, checked empirically on the real fixture.
    val sh = TextSim.shingles(T.documents(spark, sf001), 3)
    for ((num, den) <- Seq((6, 10), (8, 10))) {
      val exact = TextSim.jaccardPairs(sh, num.toDouble / den)
        .collect().map(_.toSeq).toSet
      val pref = Dedup.jaccardPairsPrefix(sh, num, den)
        .collect().map(_.toSeq).toSet
      assert(exact.nonEmpty, s"no planted pairs at $num/$den — fixture drifted?")
      assert(pref === exact, s"prefix tier diverges from all-pairs at $num/$den")
    }
  }

  test("prefix filtering kills the stop-gram quadratic term (jaccardPairsPrefix)") {
    // The 100 TB claim behind the round-13 de-quadratic, asserted
    // directly: a gram shared by EVERY doc (df = n) is exactly the
    // Σ_g m_g² killer — the all-pairs shingle join would materialize
    // C(200,2) = 19,900 collision rows for it alone. With the
    // (df asc, gram asc) prefix order it ranks LAST in every doc, so
    // with 10 unique grams per doc and t = 0.6 (prefix = the 5 rarest)
    // it appears in NO prefix, and the candidate relation — and hence
    // the verify input — is empty.
    import spark.implicits._
    val docs = (1L to 200L).map { i =>
      (i, (0 until 10).map(j => s"u${i}w$j").mkString(" ") + " zz1 zz2 zz3")
    }.toDF("doc_id", "text")
    val sh = TextSim.shingles(docs, 3)
    assert(sh.filter(col("g") === "zz1 zz2 zz3").count() === 200L,
      "the planted stop-gram must be universal")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val cand = Dedup.jaccardPrefixCandidates(Dedup.gramIds(sh), sizes, 6, 10)
    assert(cand.count() === 0L,
      "stop-gram collisions must never reach the candidate set")
    // and the exact relation really is empty here (docs are dissimilar)
    assert(Dedup.jaccardPairsPrefix(sh, 6, 10).count() === 0L)
  }

  test("exact-dup collapse keeps a 1000-deep identical cluster linear") {
    // Web corpora routinely contain thousands-deep exact-dup clusters;
    // without the collapse each of the k identical docs carries the
    // same signature into every LSH band, producing k²/2 ≈ 500k
    // candidate pairs from this one cluster alone. With it, the cluster
    // contributes ONE representative and zero sketch candidates.
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    // Unique docs share NO shingles (every token is doc-specific), so
    // any candidate volume beyond hash flukes comes from the planted
    // cluster — the quantity under test.
    val planted = (1L to 1000L).map(i => (i, dupText)) ++
      (2000L until 2200L).map(i => (i, (0 until 12).map(j => s"w${i}x$j").mkString(" ")))
    val docs = planted.toDF("doc_id", "text")

    val withRep = Dedup.exactReps(docs, 3).cache()
    val reps = withRep.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("text"))
    assert(reps.count() === 201, "1000 identical texts must collapse to one representative")

    val sh = TextSim.shingles(reps, 3)
    val cand = TextSim.bandCandidates(
      TextSim.lshBands(TextSim.minhashSignature(sh, 128), 32, 4))
    val nCand = cand.count()
    assert(nCand <= reps.count(),
      s"post-collapse candidate volume $nCand must stay linear in the rep count")

    // Labels still correct: every member of the cluster maps to the
    // cluster minimum, unique docs stay unlabeled (no pairs).
    val labels = Dedup.canonicalizeLsh(docs).cache()
    val cluster = labels.filter(col("doc_id") <= 1000)
    assert(cluster.count() === 1000)
    assert(cluster.filter(col("canonical_id") =!= 1L).count() === 0)
    assert(labels.filter(col("doc_id") >= 2000).count() === 0,
      "unique docs must not appear in the canonicalization relation")
    labels.unpersist(); withRep.unpersist()
  }

  test("without the collapse the same cluster is quadratic (k=60 demo)") {
    // Small-k demonstration of the guarded invariant's counterfactual:
    // feeding identical docs straight into LSH yields every one of the
    // C(k,2) pairs as candidates.
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (1L to 60L).map(i => (i, dupText)).toDF("doc_id", "text")
    val sh = TextSim.shingles(docs, 3)
    val unguarded = TextSim.bandCandidates(
      TextSim.lshBands(TextSim.minhashSignature(sh, 128), 32, 4)).count()
    assert(unguarded === 60L * 59 / 2)
  }

  test("docs shorter than the shingle width stay their own representative") {
    // Two identical 2-word docs have empty shingle sets: the exact
    // all-pairs relation never pairs them, so the production path must
    // not collapse them either — bit-for-bit parity with q67's oracle.
    val docs = Seq((1L, "hello world"), (2L, "hello world"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val withRep = Dedup.exactReps(docs, 3)
    assert(withRep.filter(col("doc_id") === col("rep_id")).count() === 3)
    assert(Dedup.canonicalizeLsh(docs).count() === 0)
  }

  test("training manifest composes its stages: subset of clean, contiguous per-split packing (q100)") {
    val m = Dedup.queries("q100_training_manifest")(spark, sf001).collect()
    val clean = Dedup.queries("q68_corpus_clean")(spark, sf001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(m.nonEmpty && m.forall(r => clean(r.getLong(0))),
      "manifest contains docs the clean stage dropped")
    // within each split, (shard_id, shard_off) must be the contiguous
    // token stream in doc_id order — the property a loader relies on
    m.groupBy(_.getString(2)).foreach { case (sp, rows) =>
      var cum = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(4) == cum / 256 && r.getLong(5) == cum % 256,
          s"$sp: packing breaks at doc ${r.getLong(0)}")
        cum += r.getLong(3)
      }
    }
  }

  test("incremental near-dup equals the full run restricted to delta pairs (q101)") {
    // Running only the new batch against the corpus must find exactly
    // the pairs a full re-dedup would find involving that batch — no
    // more (no corpus self-pairs) and no fewer (no lost recall).
    val cut = {
      val m = T.documents(spark, sf001).agg(max(col("doc_id"))).head().getLong(0)
      4 * m / 5
    }
    val full = Dedup.queries("q62_neardup_minhash_lsh")(spark, sf001)
      .filter(col("id2") > cut).collect().map(_.toSeq).toSet
    val inc = Dedup.queries("q101_incremental_neardup")(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(inc == full, s"incremental != full-restricted: ${inc.size} vs ${full.size}")
    assert(inc.nonEmpty, "no planted pairs in the delta — test data drifted?")
  }

  test("source-leakage matrix conserves the exact pair count (q96)") {
    // The matrix is a rollup of the verified pair relation: its n_pairs
    // must sum to exactly the number of exact Jaccard >= 0.8 pairs, and
    // every cell must respect the canonical src_a <= src_b ordering.
    val m = Dedup.queries("q96_source_leakage")(spark, sf001).collect()
    val exact = TextSim.jaccardPairs(
      TextSim.shingles(T.documents(spark, sf001), 3), 0.8).count()
    assert(m.map(_.getLong(2)).sum === exact, "matrix loses or invents pairs")
    assert(m.forall(r => r.getString(0) <= r.getString(1)))
  }

  test("leakage-safe split: near-dup pairs never straddle a split (q109)") {
    val split = Dedup.queries("q109_leakage_safe_split")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // exhaustive: one split per document
    assert(split.size === T.documents(spark, sf001).count())
    // the property the operator exists for: every verified near-dup
    // pair (the production tier's own relation) is co-split
    val pairs = Dedup.queries("q62_neardup_minhash_lsh")(spark, sf001)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val straddling = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(straddling.isEmpty, s"pairs split across sets: ${straddling.take(5).toList}")
    // and a plain per-doc split DOES straddle (the failure mode guarded
    // against): find at least one pair whose members hash to different
    // buckets under the q86 keying
    def h32mod(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    def bucket(b: Long) = if (b < 80) "train" else if (b < 90) "val" else "test"
    val naiveStraddle = pairs.exists { case (a, b) => bucket(h32mod(a)) != bucket(h32mod(b)) }
    assert(naiveStraddle, "test data should demonstrate the naive split's leakage")
  }

  test("per-source dup rates reconcile with the cluster histogram (q120 vs q115)") {
    val bySource = Dedup.queries("q120_source_dup_rate")(spark, sf001).collect()
    val hist = Dedup.queries("q115_dedup_cluster_histogram")(spark, sf001).collect()
    // every non-canonical doc is a "dup": summed over sources it must
    // equal sum over histogram buckets of (size - 1) * clusters
    val dupsFromSources = bySource.map(_.getLong(2)).sum
    val dupsFromHist = hist.map(r => (r.getLong(0) - 1) * r.getLong(1)).sum
    assert(dupsFromSources === dupsFromHist,
      s"source rollup ($dupsFromSources) and histogram ($dupsFromHist) disagree")
    assert(bySource.map(_.getLong(1)).sum === T.documents(spark, sf001).count(),
      "source rollup must cover the corpus")
  }

  test("cluster histogram partitions the corpus and matches the label relation (q115)") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.queries("q115_dedup_cluster_histogram")(spark, sf001).collect()
    // internal consistency: each bucket's doc mass is size x clusters,
    // and the buckets partition the whole corpus (singletons included)
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1),
        s"bucket ${r.getLong(0)}: n_docs != cluster_size * n_clusters")
    }
    assert(rows.map(_.getLong(2)).sum === T.documents(spark, sf001).count(),
      "histogram must partition the corpus")
    // cross-check the deepest bucket against the production labels
    val labels = Dedup.canonicalizeLsh(T.documents(spark, sf001))
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("n"))
    val maxLabeled = labels.agg(max(col("n"))).collect().head.getLong(0)
    assert(rows.map(_.getLong(0)).max === maxLabeled,
      "deepest histogram bucket must equal the largest labeled cluster")
  }

  test("segment dedup keeps global first occurrences and rebuilds intact docs byte-exact (q123)") {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    def words(pfx: String, n: Int) = (1 to n).map(pfx + _).mkString(" ")
    val segA = words("a", 10); val segB = words("b", 10)
    val segU = words("u", 10); val segV = words("v", 10)
    // doc 1: two unique segments; doc 2: repeats doc 1's first segment
    // then adds its own; doc 3: nothing but doc 1's segments; doc 4:
    // its own fresh segment twice WITHIN one doc.
    Seq((1L, s"$segA $segB"), (2L, s"$segA $segU"),
        (3L, s"$segB $segA"), (4L, s"$segV $segV"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def m(sq: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(sq.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val out = Dedup.queries("q123_segment_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 2L, m(s"$segA $segB"))),
      "doc 1 is the first occurrence of both its segments — byte-exact rebuild")
    assert(out(2L) === ((2L, 1L, m(segU))),
      "doc 2 loses the repeated segment, keeps its unique one")
    assert(out(3L) === ((2L, 0L, m(""))),
      "doc 3 is fully duplicated — scrubbed to empty")
    assert(out(4L) === ((2L, 1L, m(segV))),
      "within-doc repeats collapse to the first occurrence too")
    // corpus-scale conservation: each distinct segment text survives
    // exactly once across the whole corpus
    val segs = T.documents(spark, sf001)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(explode(expr("sequence(0, greatest(size(ws) - 1, 0), 10)")).as("st"),
              col("ws"))
      .select(array_join(expr("slice(ws, st + 1, 10)"), " ").as("seg"))
    val distinctSegs = segs.agg(countDistinct(col("seg"))).collect().head.getLong(0)
    val keptTotal = Dedup.queries("q123_segment_dedup")(spark, sf001)
      .agg(sum(col("n_kept"))).collect().head.getLong(0)
    assert(keptTotal === distinctSegs,
      "sum of kept segments must equal the distinct segment vocabulary")
  }

  test("containment flags a doc quoted inside a larger one — the pair Jaccard misses (q128)") {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    def words(pfx: String, n: Int) = (1 to n).map(pfx + _).mkString(" ")
    val quoted = words("q", 12)            // 10 distinct 3-grams
    val container = s"${words("x", 14)} $quoted ${words("y", 14)}"
    Seq((1L, quoted), (2L, container), (3L, words("z", 20)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q128_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.contains((1L, 2L)), "the quoted doc must be flagged as contained")
    assert(out((1L, 2L)) === 10000L, "verbatim quote -> containment 100%")
    assert(!out.contains((2L, 1L)),
      "containment is asymmetric: the container is not contained")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc collides with nobody")
    // and the symmetric tier really does miss it: Jaccard of the pair
    // is 10 shared grams over a ~40-gram union, far below 0.8
    val jac = Dedup.queries("q61_neardup_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.get((1L, 2L)).forall(_ < 0.8),
      "the planted containment pair must sit below the near-dup Jaccard threshold")
  }

  test("df-capped containment equals exact when the cap is not binding, and bounds candidates when it is") {
    // (a) equality: cap >= max gram df on the real corpus -> identical
    // relation, row for row
    val docs = T.documents(spark, sf001)
    val maxDf = TextSim.shingles(docs, 3)
      .groupBy(col("g")).agg(countDistinct(col("doc_id")).as("df"))
      .agg(max(col("df"))).collect().head.getLong(0)
    def rel(cap: Option[Long]) =
      Dedup.containmentPairs(docs, 3, 9, 10, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rel(Some(maxDf)) === rel(None),
      "a non-binding cap must not change the containment relation")
    // (b) the scale guard: plant a stop-gram shared by EVERY doc of a
    // 60-doc corpus plus per-doc unique content. Uncapped, the
    // stop-gram alone contributes n*(n-1) candidate pairs; capped at
    // 10 the planted corpus must produce ZERO candidate pairs, because
    // no rare gram is shared.
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    import spark.implicits._
    val stop = "the quick fox"
    (1 to 60).map(i => (i.toLong, s"$stop u${i}a u${i}b u${i}c u${i}d"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = T.documents(spark, dir)
    def interCount(cap: Option[Long]) =
      Dedup.containmentPairs(planted, 3, 0, 10, cap).count()
    // thrNum = 0 keeps EVERY candidate pair -> counts raw pair volume
    assert(interCount(None) === 60L * 59L,
      "uncapped: the planted stop-gram pairs every doc with every other")
    assert(interCount(Some(10)) === 0L,
      "df-capped: stop-gram collisions vanish, candidate volume is bounded")
  }

  test("cross-language pairs are exactly q62's pairs with mixed lang tags (q130)") {
    val langOf = T.documents(spark, sf001)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q62 = Dedup.queries("q62_neardup_minhash_lsh")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = q62.filter { case (a, b) => langOf(a) != langOf(b) }
    val got = Dedup.queries("q130_crosslang_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "q130 must be the cross-lang restriction of the q62 relation")
    assert(got.nonEmpty, "the planted near-dups include cross-lang pairs")
    Dedup.queries("q130_crosslang_pairs")(spark, sf001).collect().foreach { r =>
      assert(r.getString(2) != r.getString(3), "endpoints must differ in lang")
    }
  }

  test("prefix-filter containment equals the inverted-index relation and prunes candidates (q135)") {
    // Exact-recall tier: the df-ordered prefix join must reproduce
    // q128's relation identically (the pigeonhole argument in
    // containmentPairsPrefix), on the planted-quote corpus AND on the
    // real sf0.001 documents.
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    def words(pfx: String, n: Int) = (1 to n).map(pfx + _).mkString(" ")
    val quoted = words("q", 12)
    val container = s"${words("x", 14)} $quoted ${words("y", 14)}"
    // A stop-gram block: the shared "s1 s2 ... s30" run makes every
    // filler doc collide with every other on ~28 grams — the Σ m_g²
    // shape the prefix filter exists to avoid.
    val stopRun = words("s", 30)
    val fillers = (10L until 30L).map(i => (i, s"${words(s"u$i-", 6)} $stopRun"))
    (Seq((1L, quoted), (2L, container)) ++ fillers)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def rel(q: String, d: String) = Dedup.queries(q)(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rel("q135_containment_prefix", dir) === rel("q128_containment", dir),
      "prefix tier must equal the exact relation on the planted corpus")
    assert(rel("q135_containment_prefix", sf001) === rel("q128_containment", sf001),
      "prefix tier must equal the exact relation on real documents")

    // Candidate-volume claim, measured: pairs colliding on ANY gram
    // (the inverted-index fan-out) vs pairs colliding on a PREFIX gram.
    // The 20 fillers share the stop run — ~190 full-index pairs — but
    // their prefixes are their six RARE unique grams, so the prefix
    // join sees only the genuinely suspicious pair.
    val docs = graft.T.documents(spark, dir)
    val sh = TextSim.shingles(docs, 3)
    def pairCount(left: org.apache.spark.sql.DataFrame): Long =
      left.select(col("doc_id").as("id_a"), col("g"))
        .join(sh.select(col("doc_id").as("id_b"), col("g")), "g")
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b")).distinct().count()
    val fullPairs = pairCount(sh)
    val gdf = sh.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("gdf"), col("g"))
    val prefix = sh.join(gdf, "g")
      .withColumn("rk", row_number().over(wDoc).cast("long"))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("sz") - expr("(9 * sz + 9) div 10") + 1)
      .select(col("doc_id"), col("g"))
    val prefixPairs = pairCount(prefix)
    assert(fullPairs >= 380L,
      s"the stop run must make the full index quadratic (got $fullPairs ordered pairs)")
    assert(prefixPairs <= 4L,
      s"prefix candidates must stay near the true pair (got $prefixPairs)")
  }

  test("sketched containment recalls every exact pair and is exact when sketches cover the sets (q136)") {
    // Recall vs q128's relation (the verdict criterion for a sketched
    // containment tier): at the 8500 gate every true >=0.9 pair must
    // surface, on the planted-quote corpus and on real documents.
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    def words(pfx: String, n: Int) = (1 to n).map(pfx + _).mkString(" ")
    val quoted = words("q", 12)
    // A BIG container (300+ grams — 5x the 64-hash sketch) quoting the
    // small doc wholesale: the case the sketch tier exists for, where
    // exact verify would explode the big side's gram set per pair.
    val bigContainer = s"${words("x", 150)} $quoted ${words("y", 150)}"
    Seq((1L, quoted), (2L, bigContainer), (3L, words("z", 40)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(q: String, d: String) = Dedup.queries(q)(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sk = pairs("q136_containment_sketch", dir)
    assert(sk.contains((1L, 2L)),
      "the sketch tier must recall the doc quoted inside the big container")
    assert(!sk.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc must not surface")
    assert(pairs("q128_containment", sf001).subsetOf(
      pairs("q136_containment_sketch", sf001)),
      "at the 8500 gate the sketch tier must recall every exact >=0.9 pair")

    // Exactness when the CONTAINED side fits in the sketch (|A| <= k):
    // sketch(A) = A, so m = |A∩B| and est_bp = exact cont_bp — note
    // the container's size never matters (the one-sided estimator's
    // whole point).
    val dir2 = java.nio.file.Files.createTempDirectory("docs").toString
    val smallContainer = s"${words("x", 20)} $quoted ${words("y", 20)}"
    Seq((1L, quoted), (2L, smallContainer))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val est = Dedup.queries("q136_containment_sketch")(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exact = Dedup.queries("q128_containment")(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(est.get((1L, 2L)) === exact.get((1L, 2L)),
      "sub-sketch-size sets must estimate exactly")
  }

  test("prefix-filter near-dup equals the sketch tiers' exact relation (q138 == q62)") {
    // Both are exact at 0.8 — q62 by sketch-recall + exact verify,
    // q138 by pigeonhole-complete candidates + exact verify — so the
    // relations must be identical, including the jaccard values.
    def rel(q: String) = SparkEntry.queries(q)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = rel("q138_neardup_prefix")
    assert(prefix === rel("q62_neardup_minhash_lsh"))
    assert(prefix.nonEmpty, "sf0.001 must contain planted near-dup pairs")
  }

  test("substring scrub removes any-alignment repeats that fixed segments miss, keeps first occurrences (q139)") {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    def words(pfx: String, a: Int, b: Int) = (a to b).map(pfx + _).mkString(" ")
    val run1 = words("r", 1, 8)
    val run2 = words("s", 1, 8)
    val selfRun = words("t", 1, 8)
    Seq(
      (10L, s"${words("a", 1, 4)} $run1 ${words("a", 13, 20)}"),   // first occurrence of run1
      (11L, s"b1 b2 $run1 b3 b4"),                                 // later copy -> scrubbed
      (30L, s"${words("c", 1, 6)} $run2 ${words("c", 7, 12)}"),    // run2 at 6..13: straddles the 10-token segment boundary
      (31L, s"d1 d2 $run2 ${words("d", 3, 10)}"),                  // later copy, different alignment
      (40L, s"${words("e", 1, 4)} $selfRun e5 e6 $selfRun e7"),    // self-repeat within one doc
      (50L, "f1 f2 f3"))                                           // sub-window doc: untouched
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q139_substring_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(10L) === ((20L, 20L)), "first occurrence keeps everything")
    assert(out(11L) === ((12L, 4L)), "the later copy loses exactly the 8 run tokens")
    assert(out(31L) === ((18L, 10L)), "any-alignment repeat scrubbed in the later doc")
    assert(out(30L) === ((20L, 20L)), "the straddling first occurrence is kept")
    assert(out(40L) === ((23L, 15L)), "a self-repeat loses its second occurrence")
    assert(out(50L) === ((3L, 3L)), "sub-window docs are untouched")
    // the fixed-segment rewrite (q123) structurally MISSES the
    // boundary-straddling repeat: doc 31 survives it intact
    val seg = Dedup.queries("q123_segment_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(seg(31L)._1 === seg(31L)._2,
      "q123 keeps the straddling repeat — the alignment gap q139 closes")
  }

  test("incremental containment equals the full relation restricted to delta-touching pairs (q140)") {
    val docs = graft.T.documents(spark, sf001)
    val cut = docs.agg(expr("(4 * max(doc_id)) div 5")).head().getLong(0)
    def rel(q: String) = SparkEntry.queries(q)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = rel("q128_containment")
      .filter(p => p._1 > cut || p._2 > cut)
    assert(rel("q140_incremental_containment") === expected)
    // old-old pairs really are excluded (the cost the delta run skips)
    assert(rel("q128_containment").exists(p => p._1 <= cut && p._2 <= cut),
      "sf0.001 must contain pairs fully inside the old corpus")
  }

  test("audits over a MATERIALIZED canonical map equal the inline compositions (canonicalize once, audit many)") {
    // The 100 TB operating mode: canonicalizeLsh runs once, its tiny
    // (doc_id, canonical_id) relation is written out, and every audit
    // reads it back — the sketch/verify/components cost is paid once,
    // not once per audit. Equality with the inline catalog entries
    // (which recompute the map per query under the driver's
    // one-query-at-a-time contract) is what makes the composition a
    // fact rather than an argument.
    val docs = graft.T.documents(spark, sf001)
    val out = java.nio.file.Files.createTempDirectory("canon").toString
    Dedup.canonicalizeLsh(docs).write.mode("overwrite").parquet(out)
    val stored = spark.read.parquet(out)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Dedup.leakageSafeSplitFrom(docs, stored)) ===
      rows(SparkEntry.queries("q109_leakage_safe_split")(spark, sf001)))
    assert(rows(Dedup.sourceDupRateFrom(docs, stored)) ===
      rows(SparkEntry.queries("q120_source_dup_rate")(spark, sf001)))
    assert(rows(Dedup.clusterHistogramFrom(docs, stored)) ===
      rows(SparkEntry.queries("q115_dedup_cluster_histogram")(spark, sf001)))
    assert(rows(Dedup.dataCardFrom(docs, stored)) ===
      rows(SparkEntry.queries("q131_data_card")(spark, sf001)))
  }

  test("data card reconciles with the funnel and dup-rate audits it composes (q131)") {
    val card = Dedup.queries("q131_data_card")(spark, sf001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // dup_bp must equal q120's per-source figure
    val dup = Dedup.queries("q120_source_dup_rate")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    card.foreach { case (s, (_, _, _, dupBp, _)) =>
      assert(dupBp === dup(s), s"source $s: card dup_bp $dupBp != q120 ${dup(s)}")
    }
    // pass_pm must derive from q113's n_pass / n_docs
    val funnel = graft.ops.CorpusOps.queries("q113_filter_funnel")(spark, sf001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(5)))).toMap
    card.foreach { case (s, (nDocs, _, _, _, passPm)) =>
      val (fDocs, fPass) = funnel(s)
      assert(nDocs === fDocs)
      assert(passPm === (1000L * fPass) / fDocs,
        s"source $s: card pass_pm $passPm inconsistent with funnel $fPass/$fDocs")
    }
    // the card partitions the corpus
    assert(card.values.map(_._1).sum === T.documents(spark, sf001).count())
  }

  test("token savings reconcile with the dup-rate audit and partition the corpus (q189)") {
    val sav = Dedup.queries("q189_dedup_token_savings")(spark, sf001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val dup = Dedup.queries("q120_source_dup_rate")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    sav.foreach { case (s, (total, saved, kept, bp)) =>
      assert(kept === total - saved, s"source $s: kept+saved != total")
      assert(bp === (10000L * saved) / total)
      // a source saves tokens iff q120 counts duplicate docs there
      assert((saved > 0) === (dup(s) > 0),
        s"source $s: token savings disagree with q120 on dup presence")
    }
    // Σ tok_total over sources = corpus token count
    val corpusTok = T.documents(spark, sf001)
      .select(org.apache.spark.sql.functions.expr(
        "CAST(sum(size(split(text, ' '))) AS BIGINT)").as("t"))
      .collect()(0).getLong(0)
    assert(sav.values.map(_._1).sum === corpusTok)
  }

  test("cluster reps: rep belongs to its cluster with max tokens; cluster set = q115's multi-member clusters (q190)") {
    import org.apache.spark.sql.functions.{coalesce, col, size, split}
    val docs = T.documents(spark, sf001)
    val members = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(Dedup.canonicalizeLsh(docs), Seq("doc_id"), "left_outer")
      .select(coalesce(col("canonical_id"), col("doc_id")).as("cluster_id"),
        col("doc_id"), col("n_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val reps = Dedup.queries("q190_cluster_representatives")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    reps.foreach { case (cid, n, rep, repTok) =>
      val mem = members(cid)
      assert(mem.size.toLong === n)
      assert(mem.exists(m => m._2 == rep && m._3 == repTok), s"rep $rep not in cluster $cid")
      assert(repTok === mem.map(_._3).max, s"cluster $cid rep is not max-token")
      // deterministic tiebreak: among max-token members, the smallest id
      assert(rep === mem.filter(_._3 == repTok).map(_._2).min)
    }
    // exactly the multi-member clusters, which q115's histogram also counts
    val multi = members.filter(_._2.size >= 2).keySet
    assert(reps.map(_._1).toSet === multi)
    val histDocs = Dedup.queries("q115_dedup_cluster_histogram")(spark, sf001)
      .filter(col("cluster_size") >= 2)
      .collect().map(_.getLong(2)).sum
    assert(reps.map(_._2).sum === histDocs, "member mass disagrees with q115")
  }

  test("incremental components reproduce the from-scratch full-graph canonicalization exactly (q213)") {
    // The quotient-graph theorem, checked in-engine (the DuckDB gate
    // re-checks it against recursive SQL): contracting yesterday's
    // clusters and running components over only delta-touching pairs
    // must equal q67's full recompute row for row.
    val inc = Dedup.queries("q213_incremental_components")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.queries("q67_neardup_components")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty, "full graph must contain near-dup pairs at sf0.001")
    assert(inc === full)
  }

  test("foldDelta equals connected components over the old edges plus the delta pairs") {
    // old clusters {1,3,5}→1, {2,4}→2, {7,9}→7, {11,14}→11, {12,15}→12
    // and the untouched singleton 10; the delta pairs:
    //  (4,5)            merges 1 and 2 through non-canonical members,
    //                   so canonical 2 falls to 1;
    //  (3,20)           attaches delta doc 20 through non-canonical 3;
    //  (14,40) (15,40)  a delta doc bridging 11 and 12 — 12 falls to 11;
    //  (30,31)          a delta-only pair.
    val oldLab = Seq((1L, 1L), (3L, 1L), (5L, 1L), (2L, 2L), (4L, 2L),
      (7L, 7L), (9L, 7L), (11L, 11L), (14L, 11L), (12L, 12L), (15L, 12L),
      (10L, 10L)).toDF("doc_id", "canonical_id")
    val deltaPairs = Seq((4L, 5L), (3L, 20L), (14L, 40L), (15L, 40L), (30L, 31L))
      .toDF("id1", "id2")
    val folded = Dedup.foldDelta(oldLab, deltaPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the reference: components of the union graph (old member→canonical
    // edges plus the delta pairs); a doc in no edge is its own canonical
    val oldEdges = oldLab.filter($"doc_id" =!= $"canonical_id")
      .select(least($"doc_id", $"canonical_id").as("id1"),
              greatest($"doc_id", $"canonical_id").as("id2"))
    val cc = Components.connectedComponents(oldEdges.unionByName(deltaPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val docs = oldLab.collect().map(_.getLong(0)) ++
      Seq(4L, 5L, 3L, 20L, 14L, 40L, 15L, 30L, 31L)
    val expected = docs.distinct.sorted.map(d => (d, cc.getOrElse(d, d))).toSeq
    assert(folded === expected)
    val lab = folded.toMap
    assert(lab(2L) === 1L && lab(4L) === 1L, "the merged cluster kept its larger canonical")
    assert(lab(20L) === 1L, "a delta doc attached through a non-canonical member")
    assert(lab(12L) === 11L && lab(15L) === 11L && lab(40L) === 11L)
    assert(lab(30L) === 30L && lab(31L) === 30L, "a delta-only pair")
    assert(lab(10L) === 10L && lab(7L) === 7L && lab(9L) === 7L, "untouched old labels moved")
  }

  test("stored-state serve tier reproduces the full-graph canonicalization exactly (q299)") {
    // Same theorem as q213, but yesterday's state comes off parquet
    // (ensureCanonState) instead of being rebuilt inline — the serve
    // output must STILL equal q67's from-scratch recompute row for
    // row, and the state root must carry all three relations.
    val root = new java.io.File(Dedup.ensureCanonState(spark, sf001))
    Seq("meta", "labels", "bands", "gsizes", "vocab", "vmeta", "gramsid",
      "gprefix").foreach(dir =>
      assert(new java.io.File(root, dir).isDirectory,
        s"state root missing $dir/"))
    assert(!new java.io.File(root, "grams").exists,
      "no serve reads a string grams/ relation, so the build writes none")
    val served = Dedup.queries("q299_canonical_serve_stored")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.queries("q67_neardup_components")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty, "full graph must contain near-dup pairs at sf0.001")
    assert(served === full)
  }

  test("stored-band pair serve reproduces the inline incremental pair relation exactly (q302)") {
    val served = Dedup.queries("q302_incremental_neardup_stored")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = Dedup.queries("q101_incremental_neardup")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inline.nonEmpty, "delta must touch near-dup pairs at sf0.001")
    assert(served === inline)
  }

  test("stored-prefix containment serve reproduces the inline incremental relation exactly (q303)") {
    // The stale-prefix completeness claim, checked in-engine: stored
    // old-df prefixes + delta-df prefixes generate a candidate set
    // whose exact verify equals q140's full-corpus-prefix relation
    // row for row (the lemma is order-free; candidates only differ
    // in cost).
    val served = Dedup.queries("q303_incremental_containment_stored")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = Dedup.queries("q140_incremental_containment")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inline.nonEmpty, "delta must touch containment pairs at sf0.001")
    assert(served === inline)
  }

  test("the one-pass build stores canonicalizeLsh's labels and the old corpus's bands, and leaves no checkpoint") {
    // A private copy of the documents gives the build its own root and
    // memo key, so this call really builds.
    val base = java.nio.file.Files.createTempDirectory("canonbuild").toFile
    val d = new java.io.File(base, "sf0.001").getPath
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    var root = ""
    try {
      T.documents(spark, sf001).write.parquet(s"$d/documents.parquet")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      root = Dedup.ensureCanonState(spark, d)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"the build left persisted RDDs $left")
      val docs = T.documents(spark, d)
      val cut = spark.read.parquet(s"$root/meta").head().getLong(0)
      val oldDocs = docs.filter(col("doc_id") <= cut)
      def same(stored: String, standalone: org.apache.spark.sql.DataFrame): Unit = {
        val st = spark.read.parquet(s"$root/$stored")
        assert(st.count() > 0, s"$stored/ is empty")
        assert(st.exceptAll(standalone).isEmpty && standalone.exceptAll(st).isEmpty,
          s"$stored/ differs from its standalone composition")
      }
      same("labels", Dedup.canonicalizeLsh(oldDocs))
      same("bands", TextSim.lshBands(TextSim.minhashSignatureNative(oldDocs, 128, 3), 32, 4))
    } finally {
      if (root.nonEmpty) rmTree(new java.io.File(root))
      rmTree(base)
    }
  }

  test("dedup transitivity: triangle/wedge recount from the exact pair set (q247)") {
    val r = Dedup.queries("q247_dedup_transitivity")(spark, sf001).collect().head
    val pairs = Dedup.queries("q61_neardup_jaccard")(spark, sf001)
      .select("id1", "id2").collect()
      .map(p => (p.getLong(0), p.getLong(1))).toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2))
    val adj = nodes.map(n => n ->
      pairs.collect { case (a, b) if a == n => b
                      case (a, b) if b == n => a }).toMap
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val triangles = pairs.toSeq.map { case (a, b) =>
      (adj(a) intersect adj(b)).size.toLong
    }.sum / 3
    assert(r.getLong(0) === nodes.size.toLong)
    assert(r.getLong(1) === pairs.size.toLong)
    assert(r.getLong(2) === triangles)
    assert(r.getLong(3) === wedges)
    val bp = if (wedges > 0) 30000L * triangles / wedges else 0L
    assert(r.getLong(4) === bp)
    assert(r.getLong(4) >= 0L && r.getLong(4) <= 10000L)
  }

  test("soft dedup: inverse-multiplicity weight law, cluster consistency with the canonical map (q284)") {
    val out = graft.ops.Dedup.queries("q284_soft_dedup")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = graft.T.documents(spark, sf001).count()
    assert(out.length.toLong === nDocs, "every document keeps a weight row")
    out.foreach { case (_, _, size, w) =>
      // w = floor(1e6 / size): the tightest integer inverse weight
      assert(size * w <= 1000000L && 1000000L < size * (w + 1),
        s"weight $w violates the floor law for size $size")
      if (size == 1L) assert(w === 1000000L)
    }
    // docs sharing a canonical id must share size and weight, and the
    // size must equal the actual member count
    out.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(m => (m._3, m._4)).distinct.length === 1,
        s"cluster $cid: inconsistent size/weight")
      assert(members.head._3 === members.length.toLong,
        s"cluster $cid: size ${members.head._3} != ${members.length}")
    }
    // the effective corpus (sum of weights) equals the cluster count
    // up to the per-cluster truncation residue < size ppm
    val nClusters = out.map(_._2).distinct.length.toLong
    val sumW = out.map(_._4).sum
    // per-cluster contribution: 1e6 − (size·floor-residue) with the
    // residue < size, so the total sits in [n·1e6 − (docs − n), n·1e6]
    assert(sumW <= nClusters * 1000000L &&
        sumW >= nClusters * 1000000L - (nDocs - nClusters),
      s"effective size $sumW vs $nClusters clusters / $nDocs docs")
  }
}
