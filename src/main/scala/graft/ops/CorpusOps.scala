package graft.ops

import graft.T
import graft.functions.{BloomKit, ScalableRank, TextSim}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline runs between
  * raw text and the tokenizer — north-star extensions (no reference
  * analog; the reference's only text handling is stringification,
  * /root/reference/main.go:175-195).
  *
  * Engine-neutral hashing: every hashed value is
  * conv(substr(md5(x),1,8),16,10) — md5 is bit-identical in Spark and
  * DuckDB, so the oracle checks the REAL hash math, not a lookalike.
  *
  * Scale posture per operator:
  *  - q82 winnowing: projection + one doc-keyed window — shingling and
  *    window-min pipeline inside the scan partition, no global state.
  *  - q83 token classes: pure projection.
  *  - q84 TF-IDF: two vocabulary-keyed shuffles (tf, df) + one doc-keyed
  *    top-k window; df is vocabulary-sized, tiny at any corpus scale.
  *  - q86 split: pure projection + final tiny agg; the split is a
  *    deterministic hash of the stable doc id, so it is reproducible
  *    across runs/clusters and rows never move between splits when the
  *    corpus grows (the property training pipelines need).
  *  - q87 decontamination: benchmark side is an eval set (thousands of
  *    docs at most) — its shingle set BROADCASTS; the corpus side
  *    streams through a map-side hash join with no shuffle of the
  *    100 TB side. This is the shape GPT-3-style 13-gram decontam runs.
  */
object CorpusOps {
  type Q = (SparkSession, String) => DataFrame

  /** Engine-neutral 32-bit hash of a string column (md5 prefix). */
  private def h32(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** DSIR (q270) dials: hashed-bigram bucket count and the top-k
    * selection size. B=256 keeps the bucket tables broadcast-trivial
    * at ANY corpus size (the paper uses 10k buckets at web scale — the
    * same broadcast posture, just a bigger tiny table); k=25 stays
    * meaningful at every test SF.
    */
  val DSIR_B = 256
  val DSIR_SEL = 25

  /** BPE trainer (q274) dial: number of unrolled merge-learning steps.
    * 8 is enough to produce multi-character merges on the synthetic
    * vocabulary at every SF while keeping the oracle's unrolled WITH
    * chain readable; a production tokenizer build runs the identical
    * loop to 30-50k merges — each step costs one |vocab|-sized pass,
    * never a corpus pass (see the q274 entry).
    */
  val BPE_T = 8

  /** Unigram-LM tokenizer (q291/q292) dials — the SentencePiece-style
    * (Kudo 2018) trainer next to the BPE fold, in its deterministic
    * hard-EM (Viterbi) form: UNI_PL caps candidate piece length,
    * UNI_S caps the multi-char piece inventory per pruning step (all
    * single chars are always kept — coverage), UNI_T is the fixed EM
    * iteration count, and UNI_MAXLEN bounds the unrolled DP/backtrack
    * (both engines'); the trainer REQUIRES max word length ≤ it and
    * fails loudly otherwise (fixture max is 8).
    */
  val UNI_PL = 4
  val UNI_S = 24
  val UNI_T = 2
  val UNI_MAXLEN = 16

  /** BM25 (q275) dials: Robertson k1/b at their textbook defaults and
    * the per-query result depth.
    */
  val BM25_K = 10

  /** Engine-neutral 40-bit hash (md5 prefix) — the KMV sketch domain.
    * 2^40 ≫ any per-key distinct count we estimate, so the k-th
    * minimum stays well inside the domain and the (k−1)·2^40/h_k
    * estimator's numerator fits int64 (127·2^40 ≈ 1.4e14).
    */
  private def h40(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 10), 16, 10).cast("long")

  /** Bottom-k rows per key of a distinct (keys, h) hash relation — the
    * KMV (k-minimum-values) sketch. Implemented as a rank-limit window
    * so Spark's WindowGroupLimit rewrite prunes EVERY map partition to
    * its local bottom-k BEFORE the exchange: the shuffle carries at
    * most P·k rows per key no matter how many distinct values exist —
    * the two-phase bottom-k merge (bottom-k of a union ≡ bottom-k of
    * the per-partition bottom-k's), planned automatically. That bound
    * is also why the low-cardinality partition key is safe here
    * (CLAUDE ground rule: bounded-relation windows only).
    */
  def kmvSketch(hs: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("h"))
    hs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Linear quality-classifier logits over the 64-bin hashed
    * bag-of-words — the shared inference relation behind q121 (scoring)
    * and q198 (calibration). Deterministic integer weight table
    * (dim·2654435761 mod 1997 − 998) keeps the logit exact-integer end
    * to end; the corpus pass is a partial-aggregable (doc, dim) count
    * joined against the broadcast 64-row weight table.
    */
  /** Per-source Kolmogorov–Smirnov statistic vs the pooled corpus over
    * a (source, len) relation — see the q203 entry for rationale and
    * the ppm-quantization determinism note.
    */
  def ksDrift(docs: DataFrame): DataFrame = {
    val cnt = docs.groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
    val lens = docs.select(col("len")).distinct()
    val srcTot = cnt.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val tot = srcTot.agg(sum(col("ns")).as("n"))
    val grid = srcTot.crossJoin(lens)
      .join(cnt, Seq("source", "len"), "left_outer")
      .select(col("source"), col("ns"), col("len"),
        coalesce(col("c"), lit(0L)).as("c"))
    val wS = Window.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = cnt.groupBy(col("len")).agg(sum(col("c")).as("gc"))
      .withColumn("gcum", sum(col("gc")).over(wG))
      .select(col("len"), col("gcum"))
    val dd = grid.withColumn("scum", sum(col("c")).over(wS))
      .join(gcum, "len").crossJoin(broadcast(tot))
      .select(col("source"), col("ns"), col("len"),
        abs(expr("(1000000 * scum) div ns - (1000000 * gcum) div n")).as("d_ppm"))
    dd.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("d_ppm").desc, col("len"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("ns").as("n_docs"),
        col("d_ppm").as("ks_ppm"), col("len").as("at_len"))
      .orderBy(col("source"))
  }

  /** Median/MAD robust outlier flags over a (source, len) relation —
    * see the q210 entry for rationale and the exact-halves note.
    */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val med = docs.groupBy(col("source"))
      .agg(expr("percentile(len, 0.5)").as("med"))
    val mad = docs.join(broadcast(med), "source")
      .select(col("source"), abs(col("len") - col("med")).as("dev"))
      .groupBy(col("source"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    docs.join(broadcast(med), "source").join(broadcast(mad), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           max(col("med")).as("med"), max(col("mad")).as("mad"),
           sum(when(abs(col("len") - col("med")) > lit(3.0) * col("mad"), 1L)
             .otherwise(0L)).as("n_outliers"))
      .select(col("source"), col("n_docs"), col("med"), col("mad"),
        col("n_outliers"),
        expr("(1000000 * n_outliers) div n_docs").as("outlier_ppm"))
      .orderBy(col("source"))
  }

  def qualityLogits(s: SparkSession, d: String): DataFrame = {
    val dims = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), (h32(col("w")) % 64).as("dim"))
      .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("c"))
    val weights = broadcast(
      s.range(64).select(col("id").as("dim"),
        (pmod(col("id") * 2654435761L, lit(1997L)) - 998L).as("w")))
    dims.join(weights, "dim")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"), sum(col("c") * col("w")).as("logit"))
  }

  /** Distinct (source, 3-gram shingle) relation — the per-source
    * content-set the KMV sketches summarize. array_distinct runs
    * per-doc map-side; the global distinct is one keyed shuffle.
    */
  private def sourceShingles(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("ws"))
      .select(col("source"),
        explode(array_distinct(expr(TextSim.gramArrayExpr(3)))).as("g"))
      .distinct()

  val queries: Map[String, Q] = Map(
    // Winnowing fingerprints (MOSS-style): positional 3-word grams,
    // engine-neutral hash, min over each sliding window of 4 grams,
    // distinct selected hashes per doc. Guarantees any shared run of
    // >= 6 words between two docs shares a fingerprint, with ~1/4 the
    // storage of full shingling.
    "q82_winnow_fingerprint" -> ((s, d) => {
      val k = 3; val w = 4
      val grams = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          posexplode(expr(TextSim.gramArrayExpr(k))).as(Seq("pos", "g")))
        .withColumn("h", h32(col("g")))
      val byDoc = Window.partitionBy(col("doc_id"))
      val win = byDoc.orderBy(col("pos")).rowsBetween(0, w - 1)
      grams
        .withColumn("ng", count(lit(1)).over(byDoc))
        .withColumn("wmin", min(col("h")).over(win))
        .filter(col("pos") <= col("ng") - w) // full windows only
        .select(col("doc_id"), col("wmin").as("fp")).distinct()
        .orderBy(col("doc_id"), col("fp"))
    }),

    // Token-class stats (the BPE-ish pre-tokenizer view): counts per
    // regex class and a truncated alpha share (trunc, not round —
    // dyadic ratios land on .xxxx5 where engines' rounding disagrees).
    "q83_token_classes" -> ((s, d) =>
      T.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("n_alpha"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num"),
          size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))).as("n_other"))
        .withColumn("alpha_permille",
          floor(lit(1000.0) * col("n_alpha")
            / greatest(col("n_alpha") + col("n_num") + col("n_other"), lit(1)))
            .cast("int"))
        .orderBy(col("doc_id"))),

    // TF-IDF top-3 terms per doc: tf and df are two vocabulary-keyed
    // aggregations; idf = ln((N+1)/(df+1)); per-doc top-k by a window
    // with a total tiebreaker.
    "q84_tfidf_topk" -> ((s, d) => {
      val docs = T.documents(s, d)
      val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfreq = tok.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("w"))
      tf.join(dfreq, "w").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w"), round(col("score"), 4).as("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Deterministic hash-stratified split: bucket = md5(doc_id) % 100
    // -> 80/10/10 train/val/test. Reproducible anywhere, stable under
    // corpus growth; per-language counts audit the stratification.
    "q86_hash_split" -> ((s, d) =>
      T.documents(s, d)
        .withColumn("b", h32(col("doc_id").cast("string")) % 100)
        .withColumn("split",
          when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"), col("split"))),

    // Full-text relevance (MySQL MATCH...AGAINST analog, and the
    // retrieval scorer an LLM data pipeline ranks with): BM25 with the
    // Lucene idf form ln(1 + (N-df+0.5)/(df+0.5)) — always positive,
    // required here because the synthetic vocabulary is dense (df >
    // N/2 would make classic idf negative). k1=1.2, b=0.75. Costs: one
    // token shuffle for tf, a term-keyed df agg (vocabulary-sized), a
    // broadcast scalar (N, avgdl), and a top-k sort.
    "q59_fulltext_bm25" -> ((s, d) => {
      val terms = Seq("hash", "join", "merge")
      val tok = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val tf = tok.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      tf.join(dfreq, "w").join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
        .withColumn("contrib",
          col("idf") * col("tf") * 2.2 /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("contrib")), 4).as("bm25"),
             count(lit(1)).as("n_terms_hit"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }),

    // Gopher-style repetition quality filter: duplicate-word fraction
    // and most-frequent-bigram share per doc (permille, floored), plus
    // the keep decision at the standard-ish cuts (dup < 900‰,
    // top bigram < 180‰). Two doc-keyed aggregations — repetitive docs
    // are the classic low-quality signal a training pipeline drops.
    "q88_repetition_filter" -> ((s, d) => {
      val docs = T.documents(s, d)
      val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val wstats = words.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("n_distinct"))
      val bigrams = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(TextSim.gramArrayExpr(2))).as("bg"))
      val bstats = bigrams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_bg"), sum(col("c")).as("n_bg"))
      wstats.join(bstats, Seq("doc_id"), "left")
        .withColumn("dup_word_permille",
          floor(lit(1000.0) * (col("n_words") - col("n_distinct")) / col("n_words"))
            .cast("int"))
        .withColumn("top_bigram_permille",
          coalesce(floor(lit(1000.0) * col("max_bg") / col("n_bg")), lit(0))
            .cast("int"))
        .withColumn("keep",
          when(col("dup_word_permille") < 900 && col("top_bigram_permille") < 180, 1)
            .otherwise(0))
        .select(col("doc_id"), col("n_words"), col("dup_word_permille"),
                col("top_bigram_permille"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified sampling: a fixed-size uniform sample
    // per stratum, chosen by hash order (not data order, not RNG
    // state) — reproducible across engines, runs, and cluster sizes;
    // the standard way to carve an eval subset per language. The
    // stratum (lang) is a LOW-cardinality key, so the per-stratum
    // ranking runs through ScalableRank like q31/q35 — a plain
    // stratum-keyed window would put n/|langs| rows in one task. The
    // hash salt includes the stratum so samples across strata are
    // independent.
    "q89_stratified_sample" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val hashed = T.documents(s, d)
        .select(col("lang"), col("doc_id"),
          h32(concat(col("lang"), lit(":"), col("doc_id").cast("string"))).as("hk"))
      graft.functions.ScalableRank
        .withRanks(hashed, Seq("lang"), Seq(col("hk"), col("doc_id")),
          Seq(col("hk"), col("doc_id")), p)
        .filter(col("rn") <= 10)
        .select(col("lang"), col("rn").cast("int").as("rn"), col("doc_id"))
        .orderBy(col("lang"), col("rn"))
    }),

    // WEIGHTED sampling without replacement, deterministic — the
    // mixture step's reservoir: sample docs per source with
    // probability proportional to an integer weight (here a capped
    // length tier: longer docs carry more training mass), reproducible
    // across runs and engines because nothing random or floating-point
    // is involved. Mechanism: each doc holds w lottery tickets,
    // tickets are hashed (md5 — a fixed random permutation of ticket
    // space), the doc's key is its BEST ticket, and the per-source
    // top-25 smallest keys win — the integer-exact discrete form of
    // the Efraimidis-Spirakis u^(1/w) reservoir (min of w uniform
    // draws), with successive-WOR semantics: P(doc wins next slot)
    // = w_doc / Σ w_remaining. Plan: the ticket fan-out is a codegen
    // Generate bounded by max weight (5); the doc collapse is a
    // doc-keyed agg; the per-source top-k rides ScalableRank (source
    // is the low-cardinality trap, never Window.partitionBy).
    "q137_weighted_sample" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val weighted = T.documents(s, d)
        .select(col("source"), col("doc_id"),
          (lit(1) + least(lit(4),
            (size(split(col("text"), " ")) / 50).cast("int"))).as("w"))
      val best = weighted
        .select(col("source"), col("doc_id"), col("w"),
          explode(expr("sequence(1, w)")).as("i"))
        .withColumn("t", conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(":"), col("i").cast("string"))),
          1, 15), 16, 10).cast("long"))
        .groupBy(col("source"), col("doc_id"), col("w"))
        .agg(min(col("t")).as("tkt"))
      graft.functions.ScalableRank
        .withRanks(best, Seq("source"), Seq(col("tkt"), col("doc_id")),
          Seq(col("tkt"), col("doc_id")), p)
        .filter(col("rn") <= 25)
        .select(col("source"), col("rn").cast("int").as("rn"),
          col("doc_id"), col("w"), col("tkt"))
        .orderBy(col("source"), col("rn"))
    }),

    // Sequence packing: assign docs to fixed-token-budget training
    // shards (capacity 256) in deterministic doc_id order — the
    // contiguous-fill sharding a pretraining loader consumes, with the
    // byte offset of each doc inside its shard. The global cumulative
    // token count is the textbook "empty partitionBy" window — 100 TB
    // through ONE task if written naively — so it runs through
    // ScalableRank.withRunningSum under a constant key: range-partition
    // by doc_id, local running sums, broadcast prefix offsets.
    "q90_seq_packing" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val docs = T.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          lit(0).as("g"))
      graft.functions.ScalableRank
        .withRunningSum(docs, Seq("g"), Seq(col("doc_id")), col("n_tok"), p)
        .withColumn("start", col("rsum") - col("n_tok"))
        .select(col("doc_id"), col("n_tok"),
          floor(col("start") / 256.0).cast("long").as("shard_id"),
          (col("start") - floor(col("start") / 256.0).cast("long") * 256L).as("shard_off"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: docs sharing any 5-gram with the eval
    // set (doc_id < 20 stands in). Benchmark shingles broadcast — the
    // corpus side never shuffles.
    "q87_decontaminate" -> ((s, d) => {
      val sh = TextSim.shingles(T.documents(s, d), 5)
      val bench = sh.filter(col("doc_id") < 20)
        .select(col("g"), col("doc_id").as("bench_id"))
      sh.filter(col("doc_id") >= 20)
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hit_shingles"),
             countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    }),

    // q87's scale tier for LARGE eval suites: when the union of every
    // benchmark's n-grams is too big to broadcast as a hash relation
    // (a full eval registry runs to 1e8-1e9 grams), sketch it into a
    // Bloom filter (~1.2 bytes/item at 1% fpp vs ~50+ for a hash
    // relation), broadcast the BITS, and prefilter the corpus stream
    // through codegen'd graft_might_contain BEFORE the exact-verify
    // join — which therefore only shuffles bloom survivors (true hits
    // + the fpp sliver), not the 100 TB side. No false negatives, so
    // survivors ⊇ true hits and the verify join restores exactness:
    // output is IDENTICAL to q87, so both read decontamOracle.
    "q142_decontaminate_bloom" -> ((s, d) => {
      BloomKit.ensureRegistered(s)
      val sh = TextSim.shingles(T.documents(s, d), 5)
      val bench = sh.filter(col("doc_id") < 20)
        .select(col("g"), col("doc_id").as("bench_id"))
      // Build once (one tiny job over the eval side), ship as a literal.
      val bloom = bench.agg(expr("graft_bloom_agg(g, 65536)"))
        .head().getAs[Array[Byte]](0)
      // BloomFilterAggregate yields NULL on empty input; fail loudly
      // instead of letting a NullType literal die in analysis later
      require(bloom != null,
        "decontamination gate: empty benchmark side — no shingles to screen against")
      sh.filter(col("doc_id") >= 20)
        .filter(call_function("graft_might_contain", lit(bloom), col("g")))
        .join(bench, "g") // post-bloom exact verify: survivor-sized, no broadcast needed
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hit_shingles"),
             countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    }),

    // Heavy-hitter n-grams without a vocabulary-sized shuffle: the
    // distributed form of count-min — two independent bounded bucket
    // rows (hash/xxhash64 mod 8192). A bucket's count is an OVERcount
    // of every gram in it, so "both buckets heavy" is a superset of
    // the true ≥ total/5000 heavy set (no false negatives); the exact
    // per-gram count then runs over candidate occurrences only. The
    // sketch shuffles ≤ 8192 rows per row-of-buckets after map-side
    // partial agg — bounded at ANY corpus size — and the heavy-bucket
    // sets broadcast (≤ 8192 rows by construction). The one
    // gram-keyed shuffle left is over occurrences in heavy buckets:
    // at 100 TB that's the heavy tail + collision sliver, not the
    // ~corpus-sized gram vocabulary the naive groupBy(g) pays.
    // Threshold is RELATIVE (share ≥ 1/5000 of occurrences, computed
    // in-plan as a broadcast scalar) so the definition survives corpus
    // growth; share_bp is exact integer (overflow bound: 10000·n fits
    // int64 to n ≈ 9e14 — a petabyte of one gram).
    "q141_heavy_hitters" -> ((s, d) => {
      val B = 8192
      val grams = T.documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        .select(explode(expr(TextSim.gramArrayExpr(3))).as("g"))
      def bucketCounts(bucket: org.apache.spark.sql.Column, name: String) =
        grams.select(bucket.as(name))
          .groupBy(col(name)).agg(count(lit(1)).as("bn"))
      val c1 = bucketCounts(pmod(hash(col("g")), lit(B)), "b1")
      val c2 = bucketCounts(pmod(xxhash64(col("g")), lit(B)), "b2")
      // Total occurrences fall out of the first bucket row (≤ B rows)
      // — no extra corpus pass for the threshold scalar.
      val tot = c1.agg(sum(col("bn")).as("s"))
      def heavy(c: DataFrame, name: String) = c
        .crossJoin(broadcast(tot))
        .filter(col("bn") * 5000 >= col("s"))
        .select(col(name))
      val h1 = heavy(c1, "b1")
      val h2 = heavy(c2, "b2")
      grams
        .withColumn("b1", pmod(hash(col("g")), lit(B)))
        .withColumn("b2", pmod(xxhash64(col("g")), lit(B)))
        .join(broadcast(h1), Seq("b1"), "left_semi")
        .join(broadcast(h2), Seq("b2"), "left_semi")
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .filter(col("n") * 5000 >= col("s"))
        .select(col("g"), col("n"), expr("(10000 * n) div s").as("share_bp"))
        .orderBy(col("g"))
    }),

    // Eval-integrity report — q87's flip side: per EVAL doc, what
    // fraction of ITS 5-gram shingles leak from the training corpus
    // (GPT-3-style "dirty" percentage, the number a decontam pass
    // actually files per benchmark task). Same scale shape as q87: the
    // eval shingle set broadcasts, the corpus streams through the
    // broadcast join with no shuffle, and the distinct+rollup run over
    // hit rows only (bounded by the eval set, not the corpus).
    "q119_eval_overlap_report" -> ((s, d) => {
      val sh = TextSim.shingles(T.documents(s, d), 5)
      val bench = sh.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), col("g"))
      val tot = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("n_sh"))
      val hits = sh.filter(col("doc_id") >= 20).select(col("g"))
        .join(broadcast(bench), "g")
        .select(col("bench_id"), col("g")).distinct()
        .groupBy(col("bench_id")).agg(count(lit(1)).as("n_hit"))
      tot.join(hits, Seq("bench_id"), "left")
        .select(col("bench_id"), col("n_sh"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("contam_bp", expr("(10000 * n_hit) div n_sh"))
        .orderBy(col("bench_id"))
    }),

    // Domain mixing (DoReMi/Pile-style mixture reweighting): each
    // source gets a target share (basis points) of a half-corpus
    // budget; the per-source sampling rate is exact integer arithmetic
    // and membership is a deterministic md5 cut, so the mix is
    // reproducible across engines, runs, and cluster sizes and stable
    // under corpus growth. Shapes: one tiny source-keyed agg (domain
    // cardinality rows), a broadcast rate join, one pass over the
    // corpus — no wide shuffle of the 100 TB side. kept_id_sum pins
    // the exact sampled membership, not just its size.
    "q93_domain_mix" -> ((s, d) => {
      val docs = T.documents(s, d)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val budget = counts.agg(expr("sum(n_docs) div 2").as("budget"))
      val rates = counts.crossJoin(broadcast(budget))
        .withColumn("w_bp",
          when(col("source") === "src0", 2000L)
            .when(col("source") === "src1", 1500L)
            .when(col("source") === "src2", 1000L)
            .otherwise(300L))
        .withColumn("target_n", expr("(w_bp * budget) div 10000"))
        .withColumn("rate_bp",
          least(lit(10000L), expr("(10000 * ((w_bp * budget) div 10000)) div n_docs")))
        .select(col("source"), col("n_docs"), col("target_n"), col("rate_bp"))
      docs
        .select(col("source"), col("doc_id"),
          (h32(concat(lit("mix:"), col("source"), lit(":"),
            col("doc_id").cast("string"))) % 10000L).as("hk"))
        .join(broadcast(rates), "source")
        .withColumn("keep", col("hk") < col("rate_bp"))
        .groupBy(col("source"), col("n_docs"), col("target_n"), col("rate_bp"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
             coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L)).as("kept_id_sum"))
        .orderBy(col("source"))
    }),

    // Temperature-scaled source mixing weights — the α-sampling op
    // every multi-source pretraining mix runs (mC4/GPT-3 style:
    // sample source s proportional to n_s^α, α=1/2, so head sources
    // are flattened and tail sources up-weighted). Exactness: the
    // only float op is sqrt, which IEEE 754 requires to be correctly
    // rounded — identical in any engine — and floor() lands it back
    // in exact BIGINT before any sum, so the ppm shares are integer
    // arithmetic end to end (never a float sum whose order could
    // drift). Shapes: one source-keyed partial agg over the corpus +
    // a broadcast 1-row totals join — |sources| rows after the scan,
    // nothing else moves at 100 TB.
    "q188_mix_weights" -> ((s, d) => {
      val counts = T.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tok"))
        .withColumn("w", expr("CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT)"))
      val tot = counts.agg(sum(col("n_tok")).as("tot_tok"), sum(col("w")).as("tot_w"))
      counts.crossJoin(broadcast(tot))
        // raw_ppm's 1e6·n_tok rides DECIMAL(38,0): a dominant source's
        // token count passes 9.2e12 (the int64/1e6 line) near ~40 TB of
        // text — the q246b/q267b widening discipline; alpha's w is
        // √n_tok ≤ ~5e6, int64-safe at any corpus size.
        .select(col("source"), col("n_tok"),
          expr("CAST((1000000 * CAST(n_tok AS DECIMAL(38,0))) div tot_tok AS BIGINT)")
            .as("raw_ppm"),
          expr("(1000000 * w) div tot_w").as("alpha_ppm"))
        .orderBy(col("source"))
    }),

    // Token-budget mix allocation — the step after q188: given a
    // total training-token budget (half the corpus here) and the
    // α-tempered shares, how many tokens to draw from each source and
    // how many EPOCHS of that source that means (the repeat factor
    // data-constrained scaling work budgets with — >1 epoch = the
    // source repeats, the up-weighted tail's usual fate). All integer,
    // overflow-audited: the naive budget·w_s product is a
    // corpus-global × per-source term that breaks int64 near 2e13
    // tokens, so the target goes through q188's ppm share with the
    // exact two-term decomposition floor(b·p/1e6) =
    // (b div 1e6)·p + ((b mod 1e6)·p) div 1e6 — every intermediate
    // ≤ max(budget, 1e12). Same shapes as q188: one source-keyed
    // partial agg, one broadcast totals row.
    "q191_mix_budget" -> ((s, d) => {
      val counts = T.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tok"))
        .withColumn("w", expr("CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT)"))
      val tot = counts.agg(
        expr("sum(n_tok) div 2").as("budget"), sum(col("w")).as("tot_w"))
      counts.crossJoin(broadcast(tot))
        .withColumn("alpha_ppm", expr("(1000000 * w) div tot_w"))
        .withColumn("target_tok",
          expr("(budget div 1000000) * alpha_ppm + ((budget % 1000000) * alpha_ppm) div 1000000"))
        .select(col("source"), col("n_tok"), col("target_tok"),
          expr("(10000 * target_tok) div n_tok").as("epochs_bp"))
        .orderBy(col("source"))
    }),

    // Per-doc n-gram novelty: the fraction of a doc's distinct
    // 3-grams whose corpus-wide first occurrence (min doc_id over docs
    // containing the gram) is this doc — the curation signal for "how
    // much new text does this doc add" (high = fresh content, low =
    // boilerplate already seen). Shapes: shingling is a projection,
    // first-occurrence is a gram-keyed min agg (shingle-vocab sized,
    // partial-aggregable), the join back is gram-keyed, the rollup is
    // doc-keyed. Ratios in exact-integer basis points (q92's pattern).
    "q94_ngram_novelty" -> ((s, d) => {
      val sh = TextSim.shingles(T.documents(s, d), 3)
      val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
             sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("(10000 * n_novel) div n_grams").as("novelty_bp"))
        .orderBy(col("doc_id"))
    }),

    // RAG-style chunking: overlapping fixed-size token windows
    // (16 tokens, stride 8) per doc, the retrieval-index unit an LLM
    // data pipeline emits alongside training shards. Pure per-row
    // generate (sequence + slice, all codegen'd native functions —
    // no UDF): pipelines inside the scan partition with no shuffle;
    // output size is bounded by ~2× the token count regardless of
    // document skew.
    "q95_rag_chunking" -> ((s, d) =>
      T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("ws"),
          explode(expr("sequence(CAST(0 AS BIGINT), (size(ws)-1) div 8)")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * 8).as("start_tok"),
          least(lit(16L), size(col("ws")) - col("chunk_id") * 8).as("n_chunk_tok"),
          array_join(expr("slice(ws, CAST(chunk_id*8+1 AS INT), 16)"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Duplicated-span coverage (ExactSubstr-style signal, Lee et al.
    // 2022): the fraction of each doc's positional 3-grams that occur
    // in at least one OTHER doc — "how much of this doc is text the
    // corpus already has elsewhere". Unlike q94 (distinct grams,
    // first-occurrence attribution), this scores every position, so
    // within-doc repeats of a cross-doc gram all count as covered.
    // Shapes: the positional explode is collapsed to (doc_id, g,
    // positions) IMMEDIATELY (partial-aggregable, map-side combine
    // inside the scan stage), so nothing downstream ever carries
    // per-position rows; doc frequency is then a count over a
    // g-partitioned window on that collapsed relation — one shuffle by
    // g replaces the old gram-keyed agg + join-back pair, and the only
    // other shuffle is the final doc rollup. (The old per-position
    // join-back spilled at the positional explode and swung 7→92 s on
    // identical sf0.1 runs; the collapsed shape is both smaller and
    // stable — measured in DESIGN.md.)
    "q97_dup_span_coverage" -> ((s, d) => {
      val gd = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(TextSim.gramArrayExpr(3))).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("n_gpos"))
      val perGram = gd.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("g"))))
      perGram
        .groupBy(col("doc_id"))
        .agg(sum(col("n_gpos")).as("n_pos"),
             sum(when(col("df") >= 2, col("n_gpos")).otherwise(0L)).as("n_dup_pos"))
        .select(col("doc_id"), col("n_pos"), col("n_dup_pos"),
          expr("(10000 * n_dup_pos) div n_pos").as("dup_bp"))
        .orderBy(col("doc_id"))
    }),

    // Packed training sequences, materialized: q90 assigns docs to
    // 256-token shards by global cumulative position; this emits each
    // shard's actual payload — docs STARTING in the shard concatenated
    // in doc_id order — as the md5 of the packed text (so the oracle
    // hash-checks the real bytes without shipping megabyte strings
    // through the compare). collect_list is order-nondeterministic, so
    // the structs are array_sort'ed on doc_id before joining — the
    // same discipline as every deterministic-output rule here. Shapes:
    // the global cumsum rides ScalableRank (q90), then ONE shard-keyed
    // agg; shard payloads are bounded (~256 tokens + one straddler).
    "q102_packed_shards" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          lit(0).as("g"))
      graft.functions.ScalableRank
        .withRunningSum(docs, Seq("g"), Seq(col("doc_id")), col("n_tok"), p)
        .withColumn("start", col("rsum") - col("n_tok"))
        .withColumn("shard_id", floor(col("start") / 256.0).cast("long"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("n_tok_total"),
             collect_list(struct(col("doc_id"), col("text"))).as("dt"))
        .select(col("shard_id"), col("n_docs"), col("n_tok_total"),
          md5(expr("array_join(transform(array_sort(dt), x -> x.text), ' ')"))
            .as("packed_md5"))
        .orderBy(col("shard_id"))
    }),

    // PMI collocations (word2vec-style phrase detection): pointwise
    // mutual information of adjacent token pairs vs their unigram
    // independence baseline — the statistic vocabulary/tokenizer
    // curation ranks multiword units with. Shapes: bigram generate
    // (projection), one bigram-keyed and one token-keyed agg (both
    // vocabulary-sized, partial-aggregable), two broadcast scalar
    // totals. Ordered by the exact integer pair count (not the float
    // pmi) so the top-k cut is engine-deterministic; pmi itself is a
    // log of noisy doubles — safe to round.
    "q99_pmi_collocations" -> ((s, d) => {
      val docs = T.documents(s, d).select(split(col("text"), " ").as("ws"))
      // Bounds guard: Spark's sequence(1, 0) is DESCENDING [1, 0] (not
      // empty like DuckDB's generate_series), so a naive
      // sequence(1, size-1) crashes element_at(ws, 0) on a 1-token
      // doc. sequence(1, size) is always ascending; the slice trims
      // the final pair (empty slice when size = 1) and least() keeps
      // the probe in bounds for the row the slice discards.
      val pairs = docs.select(explode(expr(
        """slice(transform(sequence(1, size(ws)),
          |       i -> struct(element_at(ws, i) AS w1,
          |                   element_at(ws, least(i + 1, size(ws))) AS w2)),
          |      1, size(ws) - 1)""".stripMargin)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val toks = docs.select(explode(col("ws")).as("w"))
      val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      val c1 = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nb = c12.agg(sum(col("n_pair")).cast("double").as("nb"))
      val n = c1.agg(sum(col("c")).cast("double").as("n"))
      c12
        .join(c1.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(c1.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(n))
        .withColumn("pmi", round(log((col("n_pair") / col("nb")) /
          ((col("c1") / col("n")) * (col("c2") / col("n")))), 4))
        .filter(col("n_pair") >= 5)
        .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
        .orderBy(col("n_pair").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // Deterministic global shuffle: the training-order permutation a
    // pretraining loader consumes, as a stable md5 rank — identical
    // across runs, engines, and cluster sizes (a Fisher-Yates or
    // rand() order is none of those). A global row_number is the
    // "empty partitionBy" window — 100 TB through ONE task if written
    // naively — so it runs through ScalableRank under a constant key
    // (q90's pattern): range-partition by (hk, doc_id), local
    // row_numbers, broadcast prefix offsets.
    "q98_global_shuffle" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val hashed = T.documents(s, d)
        .select(col("doc_id"),
          h32(concat(lit("shuf:"), col("doc_id").cast("string"))).as("hk"),
          lit(0).as("grp"))
      graft.functions.ScalableRank
        .withRanks(hashed, Seq("grp"), Seq(col("hk"), col("doc_id")),
          Seq(col("hk"), col("doc_id")), p)
        .select(col("doc_id"), col("hk"), col("rn").as("shuffle_pos"))
        .orderBy(col("doc_id"))
    }),

    // One BPE merge iteration — the statistic a tokenizer-induction
    // pass computes: adjacent character-pair frequencies over the word
    // vocabulary, weighted by corpus word counts (top 20 = the next
    // merge candidates). Plan shape: the corpus collapses to the
    // vocabulary FIRST (one vocab-keyed agg), so the per-word pair
    // expansion — a higher-order transform, interpreted — runs over
    // |vocab| rows, not the corpus; the pair rollup is keyed by the
    // pair value (≤ |alphabet|² groups). At 100 TB the corpus pass is
    // the only full-data stage, exactly as a production BPE trainer
    // structures it.
    "q104_bpe_pair_stats" -> ((s, d) => {
      val wc = T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      wc.filter(length(col("w")) >= 2)
        .select(col("c"), explode(
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair"))
        .limit(20)
    }),

    // Boilerplate scrub (CCNet/C4-style REWRITE, not just the q97
    // measurement): a token position is boilerplate iff any 3-gram
    // covering it occurs in >= 4 distinct docs; the doc is re-emitted
    // without those positions. Output carries md5 of the scrubbed text
    // so the oracle checks the actual rewritten bytes. Plan shape: the
    // gram df is a vocabulary-keyed agg (tiny vs corpus); covered
    // positions and the keep anti-join are (doc_id, pos)-keyed; the
    // reassembly is ONE doc-keyed agg whose state is bounded by doc
    // length. No stage holds more than a doc or the gram vocabulary.
    "q110_boilerplate_scrub" -> ((s, d) => {
      val docs = T.documents(s, d)
      val toks = docs
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      val grams = docs
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          posexplode(expr(TextSim.gramArrayExpr(3))).as(Seq("i", "g")))
      val bpGrams = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 4)
      val covered = grams.join(bpGrams, "g")
        .select(col("doc_id"), explode(expr("sequence(i, i + 2)")).as("p"))
        .distinct()
      val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            expr("transform(array_sort(collect_list(struct(p, w))), x -> x.w)"),
            " ")).as("kept_md5"))
      docs
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
        .orderBy(col("doc_id"))
    }),

    // Feature hashing (the fastText / quality-classifier front-end):
    // each token hashes into a 64-bin bag-of-words vector; the output
    // pins the EXACT per-doc sparse vector via md5 of its canonical
    // "dim:count" string, plus nnz. The (doc, dim) agg is doc-keyed
    // (bounded per doc by min(64, doc length)); no vocabulary-sized
    // state anywhere — this is the projection-shaped featurizer you
    // run before a broadcast-weights linear scorer at 100 TB.
    "q112_feature_hashing" -> ((s, d) => {
      val dims = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), (h32(col("w")) % 64).as("dim"))
      dims.groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"),
          md5(array_join(
            expr("transform(array_sort(collect_list(struct(dim, c)))," +
              " x -> concat(x.dim, ':', x.c))"),
            ",")).as("vec_md5"))
        .orderBy(col("doc_id"))
    }),

    // Filter funnel (the audit table a C4-style quality gate reports):
    // per-doc boolean gates — too short, low type-token ratio,
    // over-long word — rolled up per source with a pass count. All
    // thresholds compare integers (permille floors), never floats.
    // One projection + one source-keyed agg; the funnel counters are
    // partial-aggregated map-side, so the shuffle carries |sources|
    // rows per partition regardless of corpus size.
    "q113_filter_funnel" -> ((s, d) => {
      val gates = T.documents(s, d)
        .select(col("source"), split(col("text"), " ").as("ws"))
        .select(col("source"),
          size(col("ws")).cast("long").as("n_words"),
          size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
          expr("aggregate(ws, 0, (m, x) -> greatest(m, length(x)))").as("max_wlen"))
        .withColumn("ttr_permille",
          floor(lit(1000.0) * col("n_distinct") / greatest(col("n_words"), lit(1)))
            .cast("int"))
        .withColumn("f_short", when(col("n_words") < 30, 1L).otherwise(0L))
        .withColumn("f_ttr", when(col("ttr_permille") < 220, 1L).otherwise(0L))
        .withColumn("f_longword", when(col("max_wlen") > 12, 1L).otherwise(0L))
      gates.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_short")).as("n_short"),
          sum(col("f_ttr")).as("n_low_ttr"),
          sum(col("f_longword")).as("n_longword"),
          sum(when(col("f_short") + col("f_ttr") + col("f_longword") === 0, 1L)
            .otherwise(0L)).as("n_pass"))
        .orderBy(col("source"))
    }),

    // Source-similarity matrix (the corpus-mix diagnostic behind
    // dedup-across-sources and mixture design): cosine between the
    // sources' unigram count vectors. The corpus collapses to
    // (source, word) counts FIRST — one vocab-keyed partial-agg
    // shuffle — so the pair join runs over |vocab|·|sources| rows and
    // emits ≤ |sources|² cells; the norms relation is |sources| rows
    // and broadcasts. Count products run in DECIMAL(38,0) (HUGEINT in
    // the oracle): at the 100 TB posture a stop-word count for a large
    // source is ~1e12, so c² ~ 1e24 silently wraps int64 (the q129
    // overflow class) — decimal sums stay exact to 1e38 and both
    // engines then cast the identical exact integer to the DOUBLE
    // output. Only the final cosine is floating (round 4 of an
    // irrational — engine-safe).
    "q116_source_similarity" -> ((s, d) => {
      val counts = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .withColumn("cd", col("c").cast("decimal(19,0)"))
      val norms = counts.groupBy(col("source"))
        .agg(sum(col("cd") * col("cd")).as("n2"))
      counts.select(col("source").as("s1"), col("w"), col("cd").as("c1"))
        .join(counts.select(col("source").as("s2"), col("w"), col("cd").as("c2")), Seq("w"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("n_shared"), sum(col("c1") * col("c2")).as("dot"))
        .join(broadcast(norms.select(col("source").as("s1"), col("n2").as("n1sq"))), Seq("s1"))
        .join(broadcast(norms.select(col("source").as("s2"), col("n2").as("n2sq"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("n_shared"),
          col("dot").cast("double").as("dot"),
          round(col("dot").cast("double") /
            (sqrt(col("n1sq").cast("double")) * sqrt(col("n2sq").cast("double"))), 4)
            .as("cos4"))
        .orderBy(col("s1"), col("s2"))
    }),

    // Token-budget selection (data curation under a budget): keep the
    // highest-quality docs whose CUMULATIVE token count fits a global
    // budget — the "best N tokens" pass a curriculum or ablation run
    // makes. Quality = type-token ratio (integer permille); the global
    // cumsum rides ScalableRank.withRunningSum under a constant key
    // (range-partitioned by (score desc, doc_id) — never a single-task
    // global window), exactly the q90/q98 discipline.
    "q117_token_budget_select" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val budget = 18000L
      val scored = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tok"),
          floor(lit(1000.0) * size(array_distinct(col("ws")))
            / greatest(size(col("ws")), lit(1))).cast("int").as("score"),
          lit(0).as("g"))
      graft.functions.ScalableRank
        .withRunningSum(scored, Seq("g"), Seq(col("score").desc, col("doc_id")),
          col("n_tok"), p)
        .filter(col("rsum") <= budget)
        .select(col("doc_id"), col("score"), col("n_tok"), col("rsum").as("cum_tok"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // Per-source KL divergence from the corpus unigram mix — the
    // distributional-drift diagnostic mixture design runs next to
    // q93/q116: KL(p_source ‖ p_corpus) says how far each source's
    // token distribution sits from the blend (a near-zero source is
    // redundant with the mix; a large one carries distinct signal).
    // All mass terms are exact integer counts; the only float is the
    // final Σ p·ln(ratio), rounded 4 (q91's ln discipline). The ratio
    // is computed as ln(c_sw/c_w) + ln(n/n_s) — NOT ln(c_sw·n /
    // (c_w·n_s)): at the 100 TB posture n is ~1e13+ tokens and the
    // int64 product c_sw·n wraps silently under Spark's non-ANSI
    // arithmetic; each individual ratio is a double division of two
    // in-range longs, exact to a rounding error the round(4) absorbs
    // (identical expression shape on the DuckDB side). Plan:
    // one vocab-keyed (source, w) partial agg; corpus and per-source
    // totals derive from it (vocab- and |sources|-sized aggs); the
    // broadcast joins fan the tiny totals back; the rollup is
    // |sources| rows. The corpus is tokenized exactly once.
    "q129_source_kl" -> ((s, d) => {
      val sw = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      val cw = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
      val ns = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
      val n = broadcast(cw.agg(sum(col("c_w")).as("n")))
      sw.join(broadcast(cw), "w")
        .join(broadcast(ns), "source")
        .crossJoin(n)
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tok"),
          round(sum((col("c_sw") / col("n_s")) *
            (log(col("c_sw") / col("c_w")) + log(col("n") / col("n_s")))), 4)
            .as("kl4"))
        .orderBy(col("source"))
    }),

    // zlib compression-ratio quality gate — the Gopher/RefinedWeb
    // signal the token-statistics gates (q71/q88/q92/q227) cannot
    // see: DEFLATE finds long-range repetition and low-order entropy
    // at once, so a near-incompressible doc is noise and an
    // ultra-compressible one is boilerplate. Per-partition Deflater
    // via mapPartitions (one JVM codec reused across the batch — the
    // same batch-stage shape as multimodal decode; a map-side
    // projection, no shuffle). DEFLATE output length is
    // deterministic for a fixed level but NOT SQL-expressible, so
    // this is the catalog's one remaining spec-only batch entry
    // (since round 8 even the ANN tiers are oracle-replayed): the
    // driver records rows>0 and the spec pins planted-corpus
    // behavior.
    "q255_compression_gate" -> ((s, d) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("raw_bytes",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("zip_bytes",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("ratio_bp",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("keep",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      T.documents(s, d).select(col("doc_id"), col("text"))
        .mapPartitions { rows =>
          val buf = new Array[Byte](1 << 16)
          // one native codec per partition, reset between rows; the
          // completion listener releases it even if the consumer stops
          // early (limit/take)
          val defl = new java.util.zip.Deflater(6)
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) tc.addTaskCompletionListener[Unit](_ => defl.end())
          rows.map { r =>
            val bytes = r.getString(1).getBytes("UTF-8")
            defl.reset()
            defl.setInput(bytes); defl.finish()
            var n = 0L
            while (!defl.finished()) n += defl.deflate(buf)
            val ratio = 10000L * n / math.max(bytes.length, 1)
            // Gopher-flavored band: reject boilerplate (< 20% of raw)
            // and incompressible noise (> 95%)
            val keep = if (ratio >= 2000L && ratio <= 9500L) 1L else 0L
            org.apache.spark.sql.Row(r.getLong(0), bytes.length.toLong, n, ratio, keep)
          }
        }(enc)
        .orderBy(col("doc_id"))
    }),

    // Compressibility PROXY gate (round-12, the q255 driver-green
    // companion the round-11 verdict asked for): q255's DEFLATE
    // length is deterministic but not SQL-expressible, so the
    // driver's DuckDB gate records it no_oracle (only the local
    // gate's Python-zlib oracle replays it bit-exact). This tier
    // reads the SAME signal — long-range repetition and low-order
    // entropy — from two exact-integer features DuckDB can replay:
    //  - distinct8_bp: distinct/total char-8-gram ratio (a dictionary
    //    coder's find-a-match probability; boilerplate → low, noise →
    //    ~10000);
    //  - top_bigram_bp: the most frequent char bigram's share (the
    //    order-1 entropy collapse DEFLATE's Huffman stage exploits).
    // keep_proxy mirrors q255's two-sided band with thresholds
    // CALIBRATED against the exact tier's keep decisions (measured
    // agreement 9890-9920 bp at all three SFs; pinned >= 9700 in
    // CorpusOpsSpec — the DEFLATE header overhead that dominates
    // short docs is proxied by the len <= 70 leg). Scale: the 8-gram
    // explode is the minhash shingle shape — (doc_id, gram)-keyed
    // partial aggs, one corpus tokenization, nothing quadratic.
    "q255b_compressibility_proxy" -> ((s, d) => {
      val base = T.documents(s, d)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      val g8 = base.filter(col("len") >= 8)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(1, len - 7)")).as("p"))
        .select(col("doc_id"), expr("substring(text, p, 8)").as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("d8"), sum(col("c")).as("t8"))
      val g2 = base.filter(col("len") >= 2)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(1, len - 1)")).as("p"))
        .select(col("doc_id"), expr("substring(text, p, 2)").as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("mx"), sum(col("c")).as("t2"))
      base.join(g8, Seq("doc_id"), "left_outer")
        .join(g2, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("len").cast("long").as("n_chars"),
          coalesce(expr("(10000 * d8) div t8"), lit(10000L)).as("distinct8_bp"),
          coalesce(expr("(10000 * mx) div t2"), lit(10000L)).as("top_bigram_bp"))
        .withColumn("keep_proxy",
          when((col("distinct8_bp") >= 9750 && col("n_chars") <= 70) ||
               col("distinct8_bp") < 1500 || col("top_bigram_bp") >= 3000, 0L)
            .otherwise(1L))
        .orderBy(col("doc_id"))
    }),

    // Snake-order shard balancing — the deterministic cousin of LPT
    // scheduling a distributed writer can actually run: rank docs by
    // size descending, deal them to K shards boustrophedon
    // (0..K-1, K-1..0, ...) so every round of K docs contributes its
    // large and small ends to OPPOSITE shards. Unlike greedy LPT
    // (inherently sequential: each assignment needs all previous
    // loads), the snake is a pure function of the global rank — one
    // ScalableRank pass + integer arithmetic, no driver loop — and
    // lands within a fraction of a percent of perfect balance on
    // heavy-tailed sizes. q90 packs docs INTO fixed-size shards in id
    // order; this balances a FIXED shard count, the writer's other
    // half. Report: per-shard load + deviation from perfect in bp.
    "q253_snake_sharding" -> ((s, d) => {
      val k = 8
      val docs = T.documents(s, d)
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"))
        .withColumn("g", lit(1))
      val ranked = graft.functions.ScalableRank.withRanks(docs, Seq("g"),
        Seq(expr("-n_tok"), col("doc_id")), Seq(expr("-n_tok"), col("doc_id")), 32)
      val shards = ranked
        .withColumn("r0", col("rn") - 1)
        .withColumn("shard", expr(
          s"CASE WHEN (r0 div $k) % 2 = 0 THEN r0 % $k ELSE ${k - 1} - (r0 % $k) END"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      val tot = shards.agg(sum(col("tokens")).as("t"))
      shards.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("tokens"),
          // 8e4·tokens passes int64 once a shard holds ≳1.1e14 tokens
          // (within reach of a 100 TB corpus) — the DECIMAL(38,0) class
          expr(s"(CAST(10000 AS DECIMAL(38,0)) * tokens * $k) div t - 10000")
            .as("dev_bp"))
        .orderBy(col("shard"))
    }),

    // Horvitz–Thompson estimator audit — the sampling-methodology
    // check behind every "we measured it on a 10% sample" claim: a
    // deterministic 10% hash sample per lang stratum, HT-weighted
    // (×10) totals, and the realized error vs the exact full-corpus
    // truth in ppm. The estimate is what a pipeline would publish at
    // 100 TB (one pass over 10% of the data); the truth is affordable
    // here and turns the estimator itself into an oracle-checked
    // operator — including the empty-stratum edge (LEFT join +
    // COALESCE 0, the case naive sample-then-scale code drops). All
    // integer arithmetic end to end.
    "q236_ht_estimator" -> ((s, d) => {
      val docs = T.documents(s, d)
      val t = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("true_docs"), sum(col("n_chars")).as("true_chars"))
      val sm = docs.filter(h32(col("doc_id").cast("string")) % 10 === 0)
        .groupBy(col("lang"))
        .agg((count(lit(1)) * 10).as("est_docs"),
             (sum(col("n_chars")) * 10).as("est_chars"))
      t.join(sm, Seq("lang"), "left")
        .select(col("lang"), col("true_docs"), col("true_chars"),
          coalesce(col("est_docs"), lit(0L)).as("est_docs"),
          coalesce(col("est_chars"), lit(0L)).as("est_chars"))
        .withColumn("docs_err_ppm",
          expr("(1000000 * abs(est_docs - true_docs)) div true_docs"))
        // char totals pass int64/1e6 (9.2e12 chars ≈ 10 TB of text in
        // one lang) long before doc counts do — the error product
        // rides DECIMAL(38,0), the q246b/q267b widening discipline
        .withColumn("chars_err_ppm",
          expr("CAST((1000000 * abs(CAST(est_chars AS DECIMAL(38,0)) - true_chars))" +
            " div true_chars AS BIGINT)"))
        .orderBy(col("lang"))
    }),

    // Token↔source mutual information (feature selection over the
    // corpus): for each of the 20 highest-df tokens, MI between the
    // source label and the token's PRESENCE in a doc — the
    // quantitative "which tokens give the source away" list that
    // q129's KL summarizes per source and q208's transfer matrix
    // never attributes to individual tokens. Presence (not counts)
    // keeps every probability a ratio of exact integer doc counts;
    // the only corpus-scale shuffles are the (doc,w) distinct and the
    // vocabulary-keyed df agg — the MI itself runs on a broadcast
    // |sources|×20 grid (absent (source,token) cells are
    // reconstructed by a left join so the zero-presence term is
    // counted, not silently dropped). ln over identical exact-integer
    // ratios + round(Σ,4) is the q129 discipline.
    "q230_token_mi" -> ((s, d) => {
      val docs = T.documents(s, d)
      val dw = docs
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
        .distinct()
      val dft = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val top = broadcast(dft.orderBy(col("df").desc, col("w")).limit(20))
      val dfst = dw.join(top.select(col("w")), "w")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("df_s"))
      val ns = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val nTot = docs.agg(count(lit(1)).as("n"))
      ns.crossJoin(top).crossJoin(broadcast(nTot))
        .join(dfst, Seq("source", "w"), "left")
        .withColumn("a", coalesce(col("df_s"), lit(0L)))
        .withColumn("term",
          when(col("a") > 0,
            (col("a").cast("double") / col("n")) *
              log(col("a").cast("double") * col("n") / (col("n_s") * col("df"))))
            .otherwise(lit(0.0)) +
          when(col("n_s") - col("a") > 0,
            ((col("n_s") - col("a")).cast("double") / col("n")) *
              log((col("n_s") - col("a")).cast("double") * col("n") /
                  (col("n_s") * (col("n") - col("df")))))
            .otherwise(lit(0.0)))
        .groupBy(col("w"))
        .agg(max(col("df")).as("doc_freq"),
             round(sum(col("term")), 4).as("mi4"))
        .orderBy(col("w"))
    }),

    // Blocklist filter — C4's named "bad words" gate, the one
    // published-pipeline component the funnel family didn't yet name:
    // token-exact blocklist hits per doc, the keep decision, and the
    // per-source audit a release files. The blocklist BROADCASTS (a
    // real one is tens of KB; even a million-entry list broadcasts),
    // membership is a map-side hash-join probe, and the only
    // exchanges are the doc rollup and the |sources|-row audit — the
    // corpus never shuffles on anything list-related.
    "q134_blocklist_filter" -> ((s, d) => {
      import s.implicits._
      val block = broadcast(
        Seq("slow", "error", "drop").toDF("w").withColumn("hit", lit(1L)))
      val toks = T.documents(s, d)
        .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
      toks.join(block, Seq("w"), "left_outer")
        .groupBy(col("source"), col("doc_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_blocked"),
             sum(col("n_hits")).as("n_hits"))
        .withColumn("blocked_bp", expr("(10000 * n_blocked) div n_docs"))
        .orderBy(col("source"))
    }),

    // Quality-classifier inference — the scorer q112's featurizer
    // feeds: a broadcast-weights linear model over the 64-bin hashed
    // bag-of-words. Weights are a deterministic integer table
    // (w(dim) = dim·2654435761 mod 1997 − 998, standing in for trained
    // parameters) so logit = Σ count·w stays exact-integer end to end
    // and the oracle hash-checks real inference, not a float
    // lookalike. Plan shape: (doc,dim) counts (partial-aggregable) ⋈
    // broadcast 64-row weight table → one doc-keyed sum. At 100 TB
    // this is the projection-shaped classifier pass (fastText-style
    // quality gate): even a 2^20-dim model broadcasts; the corpus
    // never shuffles anything wider than its per-doc sparse vector.
    "q121_quality_classifier" -> ((s, d) =>
      qualityLogits(s, d)
        .withColumn("keep", when(col("logit") >= 0, 1).otherwise(0))
        .select(col("doc_id"), col("nnz"), col("logit"), col("keep"))
        .orderBy(col("doc_id"))),

    // Calibration / reliability bins for q121's classifier — the
    // model-evaluation readout that decides whether a score threshold
    // is trustworthy: logits ranked into deciles, each bin reporting
    // its exact logit envelope and the observed rate of an INDEPENDENT
    // outcome proxy (document length ≥ 300 chars — a signal the hashed
    // bag-of-words model never sees directly). A well-calibrated
    // scorer shows monotone rates across bins. Ranking is the
    // constant-key ScalableRank + closed-form ntile (q183/q184's
    // shape); rates are exact integer ppm; the envelope ships as exact
    // min/max rather than a mean because integer division of a
    // possibly-negative sum truncates toward zero in Spark but floors
    // in DuckDB (the q132 pre-epoch trap).
    "q198_calibration_bins" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val scored = qualityLogits(s, d)
        .join(T.documents(s, d).select(col("doc_id"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("pos")), "doc_id")
        .withColumn("g", lit(1))
      graft.functions.ScalableRank
        .withRanks(scored, Seq("g"), Seq(col("logit"), col("doc_id")),
          Seq(col("logit"), col("doc_id")), p)
        .withColumn("decile",
          graft.functions.ScalableRank.ntileFrom(col("rn"), col("ntot"), 10))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
             min(col("logit")).as("lo_logit"), max(col("logit")).as("hi_logit"))
        .select(col("decile").cast("long").as("decile"), col("n_docs"), col("n_pos"),
          expr("(1000000 * n_pos) div n_docs").as("pos_ppm"),
          col("lo_logit"), col("hi_logit"))
        .orderBy(col("decile"))
    }),

    // Kolmogorov–Smirnov drift audit: per source, the KS statistic
    // D = max_x |F_source(x) − F_corpus(x)| over the document-length
    // distribution — the nonparametric "did this source's shape drift
    // from the corpus" gate (schema-free twin of q129's KL on token
    // mixes). The corpus collapses FIRST to (source, length) counts,
    // so everything after runs on a ≤ |sources|·|lengths| pre-rollup
    // (lengths are value-bounded, never corpus-bounded) — the tiny
    // grid is cross-joined so each source ECDF is evaluated wherever
    // the GLOBAL ECDF steps (D can peak at a length the source never
    // emits). ECDFs compare in exact-integer ppm: each cum is
    // ppm-quantized BEFORE the difference (≤1 ppm quantization, but
    // deterministic and int64-safe — cum·N products would overflow at
    // corpus scale); windows run only over the post-rollup grid (the
    // q184 discipline).
    "q203_ks_drift" -> ((s, d) =>
      ksDrift(T.documents(s, d).select(col("source"), col("n_chars").as("len")))),

    // Robust length-outlier audit per source (median/MAD, the
    // document-side twin of q169's event MAD gate): docs with
    // |len − median| > 3·MAD are flagged — the truncation/
    // concatenation-artifact detector a curation pass runs before
    // training. Two grouped exact-percentile aggs (source is
    // low-cardinality, but percentile GROUP BY is one buffer per
    // group map-side — the q29 discipline, NOT a window) + one
    // broadcast join back for the flag pass. Lengths are integers so
    // every interpolated median lands on a binary-exact half — the
    // 3·MAD comparison never sits on a float boundary.
    "q210_length_outliers" -> ((s, d) =>
      lengthOutliers(T.documents(s, d).select(col("source"), col("n_chars").as("len")))),

    // Shard-rebalance audit: when a 16-shard corpus layout grows to
    // 20 shards, what fraction of documents must MOVE under naive
    // mod-N placement vs a consistent-hash ring? (mod-N reshuffles
    // ~1−1/lcm ≈ 95% of 100 TB; the ring's contract is ≈ new/total
    // = 20%.) Both placements are pure md5 functions, the ring is a
    // broadcast boundary table (successor-boundary lookup = one
    // grouped min over a doc × |shards| broadcast expansion), so the
    // audit is one corpus pass and the oracle replays it bit-exactly —
    // the operator a storage migration runs BEFORE committing to a
    // topology change. One token per shard here; production rings add
    // virtual nodes to tighten the variance around new/total — same
    // algebra, a larger broadcast boundary table.
    "q214_shard_rebalance" -> ((s, d) => {
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 10), 16, 10)
        .cast("long")
      val docs = T.documents(s, d).select(col("doc_id"), h.as("h"))
      def ring(n: Int, cname: String): DataFrame = {
        val b = broadcast(s.range(n).select(
          conv(substring(md5(concat(lit("shard:"), col("id").cast("string"))), 1, 10), 16, 10)
            .cast("long").as("b")))
        docs.crossJoin(b)
          .groupBy(col("doc_id"), col("h"))
          .agg(coalesce(min(when(col("b") >= col("h"), col("b"))), min(col("b")))
            .as(cname))
      }
      ring(16, "b16").join(ring(20, "b20"), Seq("doc_id", "h"))
        .select(col("doc_id"),
          when(col("b16") =!= col("b20"), 1L).otherwise(0L).as("mv_ring"),
          when(col("h") % 16 =!= col("h") % 20, 1L).otherwise(0L).as("mv_mod"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("mv_ring")).as("moved_ring"),
             sum(col("mv_mod")).as("moved_mod"))
        .select(col("n_docs"), col("moved_ring"), col("moved_mod"),
          expr("(1000000 * moved_ring) div n_docs").as("ring_ppm"),
          expr("(1000000 * moved_mod) div n_docs").as("mod_ppm"))
        .orderBy(col("n_docs"))
    }),

    // Classifier threshold sweep — the tradeoff curve behind "where do
    // we cut": docs ranked by quality logit (best first), with
    // cumulative document and TOKEN mass at each decile boundary, so a
    // curation run reads off "keeping the top 30% of docs keeps X% of
    // tokens above logit ≥ T" without re-running the filter per
    // candidate threshold. The global ranking + both cumulatives ride
    // constant-key ScalableRank running sums (q202's chained shape);
    // the decile rollup is 10 rows; every share is exact integer ppm.
    "q215_threshold_sweep" -> ((s, d) => {
      val scored = qualityLogits(s, d)
        .join(T.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id")
        .withColumn("g", lit(1))
      val c1 = graft.functions.ScalableRank
        .withRunningSum(scored, Seq("g"), Seq(col("logit").desc, col("doc_id")),
          col("n_tok"), 32)
        .withColumnRenamed("rsum", "cum_tok")
      val c2 = graft.functions.ScalableRank
        .withRunningSum(c1, Seq("g"), Seq(col("logit").desc, col("doc_id")),
          lit(1L), 32)
        .withColumnRenamed("rsum", "cum_docs")
      val tot = scored.agg(count(lit(1)).as("tot_docs"), sum(col("n_tok")).as("tot_tok"))
      c2.crossJoin(broadcast(tot))
        .withColumn("decile",
          graft.functions.ScalableRank.ntileFrom(col("cum_docs"), col("tot_docs"), 10))
        .groupBy(col("decile"))
        .agg(min(col("logit")).as("thr_logit"),
             max(col("cum_docs")).as("cum_docs"),
             max(col("cum_tok")).as("cum_tokens"),
             max(col("tot_docs")).as("td"), max(col("tot_tok")).as("tt"))
        .select(col("decile").cast("long").as("decile"), col("thr_logit"),
          col("cum_docs"), col("cum_tokens"),
          expr("(1000000 * cum_docs) div td").as("doc_share_ppm"),
          // cumulative TOKEN counts pass int64/1e6 near 40 TB of text;
          // the share product rides DECIMAL(38,0) (doc counts don't —
          // 1e6·1e12 docs still fits int64)
          expr("CAST((1000000 * CAST(cum_tokens AS DECIMAL(38,0))) div tt AS BIGINT)")
            .as("token_share_ppm"))
        .orderBy(col("decile"))
    }),

    // Quota-stratified eval-set construction: exactly k=3 documents
    // per (lang, source) cell, chosen by md5 rank — the "small but
    // covers every stratum" eval corpus a training run holds out.
    // (lang, source) is a LOW-cardinality key pair, so the per-cell
    // ranking rides ScalableRank (the q31/q35 rule: a direct
    // Window.partitionBy here would funnel 100 TB onto |cells| tasks);
    // the md5 pick is the oracle-replayable coin.
    "q220_eval_quota_sample" -> ((s, d) => {
      val docs = T.documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"))
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
      graft.functions.ScalableRank
        .withRanks(docs, Seq("lang", "source"), Seq(col("h"), col("doc_id")),
          Seq(col("h"), col("doc_id")), 32)
        .filter(col("rn") <= 3)
        .select(col("lang"), col("source"), col("rn").as("pick"), col("doc_id"))
        .orderBy(col("lang"), col("source"), col("pick"), col("doc_id"))
    }),

    // Curriculum interleave — the deterministic round-robin training
    // order across sources (one doc per source per round, the mixing
    // stride a multi-source training run feeds the loader): rank docs
    // within their source, then order globally by (round, source).
    // Both rankings ride ScalableRank — source IS a low-cardinality
    // key (the q31/q35 hazard), and the global position is the
    // constant-key case (q90/q98's pattern) — so neither a
    // |sources|-task nor a single-task sort exists anywhere in the
    // plan.
    "q125_curriculum_interleave" -> ((s, d) => {
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val docs = T.documents(s, d).select(col("doc_id"), col("source"))
      val bySrc = graft.functions.ScalableRank
        .withRanks(docs, Seq("source"), Seq(col("doc_id")), Seq(col("doc_id")), p)
        .select(col("doc_id"), col("source"), col("rn").as("src_rank"))
      // The global position has a CLOSED FORM from the per-source
      // totals: docs ordered before (r, s) are every source's first
      // min(r-1, n_s') docs plus the same-round sources ≤ s that
      // reach round r — so instead of a second (constant-key)
      // ScalableRank pass the totals collapse to ONE broadcast row
      // and pos is a projection. Measured (graft.One cpus=8 sf0.1,
      // warm): 3.0 s with the second ranking pass, 1.1-2.5 s closed
      // form across JVM runs — the win is structural (one fewer
      // global range shuffle + checkpoint), the local numbers are
      // noise-bounded. The per-row HOF fold is interpreted, but over
      // |sources| elements — bounded by source cardinality, not data.
      val totals = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .agg(sort_array(collect_list(struct(col("source"), col("n")))).as("ts"))
      bySrc.crossJoin(broadcast(totals))
        .withColumn("pos",
          expr("aggregate(ts, 0L, (acc, t) -> acc + least(src_rank - 1, t.n)" +
               " + CASE WHEN t.source <= source AND t.n >= src_rank" +
               " THEN 1L ELSE 0L END)"))
        .select(col("pos"), col("doc_id"), col("source"), col("src_rank"))
        .orderBy(col("pos"))
    }),

    // Segmented positional posting lists — the retrieval-index build
    // behind q59/q84's scoring: postings aggregate per (term,
    // doc-block) SEGMENT (Lucene's layout), so per-group state is
    // bounded by the block (1000 docs × tf), never by a head term's
    // corpus-wide frequency — the skew that kills a naive
    // groupBy(term) collect_list at scale. Segment merge is
    // concatenation by construction (doc ranges are disjoint and
    // ordered). The md5 pins the EXACT ordered (doc:pos) list per
    // segment. One (term, block)-keyed shuffle; at 100 TB the index
    // lands partitioned by (term-bucket, block).
    "q122_inverted_index" -> ((s, d) => {
      val post = T.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
        .select(col("w"), col("doc_id"), (col("p0") + 1).as("p"),
                floor(col("doc_id") / 1000).cast("long").as("blk"))
      post.groupBy(col("w"), col("blk"))
        .agg(countDistinct(col("doc_id")).as("df_seg"),
             count(lit(1)).as("cf_seg"),
             md5(array_join(
               expr("transform(array_sort(collect_list(struct(doc_id, p)))," +
                 " x -> concat(x.doc_id, ':', x.p))"), ",")).as("postings_md5"))
        .orderBy(col("w"), col("blk"))
    }),

    // Positional phrase search — the retrieval query the q122 index
    // exists to serve. Relational phrase match by EVIDENCE
    // AGGREGATION, not a k-way postings self-join: each corpus token
    // probes a broadcast (term, slot) table (k rows for a k-word
    // phrase) and emits the phrase-start position it would witness
    // (start = p − slot); a start with all k distinct slots witnessed
    // is a match. One corpus tokenize, one map-side broadcast probe
    // that CUTS the stream to Σ df(term) rows before any exchange,
    // then one (doc, start)-keyed shuffle of those survivors — vs the
    // naive k-way self-join's k corpus scans and k−1 joins. Handles
    // repeated terms in the phrase (a token fans out to every slot it
    // could fill) and overlapping matches for free. The per-doc
    // rollup (count + first hit position) is what a snippet fetch
    // consumes. At 100 TB: nothing wider than the phrase terms'
    // posting lists ever shuffles.
    "q143_phrase_search" -> ((s, d) =>
      phraseHits(s, T.documents(s, d), Seq("slow", "hash", "batch"))),

    // Pareto-frontier data selection: the docs no other doc beats on
    // BOTH objectives (here: longer AND lexically richer) — the
    // quality-diversity frontier a curriculum/selection pass keeps when
    // no single blended score is trusted. Objectives are q92's exact
    // integers (n_tok, ttr_bp), so dominance is integer comparison.
    "q150_pareto_frontier" -> ((s, d) => {
      val cw = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cw"))
      val feats = cw.groupBy(col("doc_id"))
        .agg(sum(col("cw")).cast("long").as("n_tok"), count(lit(1)).as("n_types"))
        .select(col("doc_id"), col("n_tok"),
          expr("(10000 * n_types) div n_tok").as("ttr_bp"))
      paretoFrontier(feats, "n_tok", "ttr_bp")
        .orderBy(col("n_tok"), col("doc_id"))
    }),

    // Per-source OLS (ttr_bp ~ n_tok): the does-quality-decay-with-
    // length diagnostic, as closed-form regression over MERGEABLE
    // moment sums — the same one-pass shape as q148's state, so the
    // 100 TB path is one (source)-keyed partial agg, never an iterative
    // solver. Moments run in DECIMAL(38,0)/HUGEINT (q116's overflow
    // class: Σx² at corpus scale wraps int64); outputs are floors of
    // doubles derived from IDENTICAL exact integers in both engines, so
    // no rounding-tie hazard (and floor, not DIV — cov is negative when
    // quality decays, where truncation and floor disagree).
    "q152_group_ols" -> ((s, d) => {
      val cw = T.documents(s, d)
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("source"), col("w")).agg(count(lit(1)).as("cw"))
      val feats = cw.groupBy(col("doc_id"), col("source"))
        .agg(sum(col("cw")).cast("long").as("x"), count(lit(1)).as("n_types"))
        .select(col("source"), col("x"), expr("(10000 * n_types) div x").as("y"))
      groupOls(feats, "source", "x", "y").orderBy(col("source"))
    }),

    // Size-concentration diagnostic: per-source Gini coefficient of
    // document sizes plus the top-decile share — the "is this source a
    // few megadocs or many uniform pages?" signal that decides chunking
    // and sampling strategy before training. Entirely exact integer
    // moments over the rank-weighted closed form
    //   G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx),  x ascending,
    // reported in ppm via truncating division (numerator ≥ 0 always, so
    // Spark div ≡ DuckDB //). source is a 20-value key → the ascending
    // rank rides ScalableRank, never a per-source single task; the
    // moments then fold in one source-keyed partial agg.
    "q162_gini_concentration" -> ((s, d) =>
      giniReport(T.documents(s, d).select(col("source"), col("doc_id"), col("n_chars")))
        .orderBy(col("source"))),

    // Quantile normalization across sources (the batch-effect
    // correction genomics calls quantile normalization and data-mixing
    // pipelines use to make per-source quality scores comparable): each
    // doc's size is replaced by the GLOBAL value at its within-source
    // quantile, via the exact integer midpoint rank map
    //   R = ((2·r_s − 1)·N + n_s) div (2·n_s)  ∈ [1, N]
    // — no fractional quantiles, no float interpolation, so both
    // engines agree bit-exactly. Scale shape: the within-source rank
    // rides ScalableRank over the 20-value source key; the global rank
    // is the constant-key extreme of the same decomposition (q98's
    // pattern); the final lookup is an equi-join on the target rank —
    // at 100 TB that is 3 range/hash shuffles, never a single-task
    // window.
    "q165_quantile_normalize" -> ((s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val total = docs.agg(count(lit(1)).as("nn"))
      // target rank is computed entirely on the probe side (nn arrives
      // as a broadcast scalar), keeping the lookup a pure equi-join
      val bySrc = ScalableRank.withRanks(docs, Seq("source"),
        Seq(col("n_chars"), col("doc_id")), Seq(col("n_chars"), col("doc_id")), 32)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rn").as("rs"), col("ntot").as("ns"))
        .crossJoin(broadcast(total))
        .withColumn("rg", expr("((2 * rs - 1) * nn + ns) div (2 * ns)"))
      val global = ScalableRank.withRanks(
        docs.withColumn("g", lit(1)), Seq("g"),
        Seq(col("n_chars"), col("doc_id")), Seq(col("n_chars"), col("doc_id")), 32)
        .select(col("rn").as("rg"), col("n_chars").as("norm_chars"))
      bySrc
        .join(global, Seq("rg"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("norm_chars"))
        .orderBy(col("doc_id"))
    }),

    // Winsorization report: per source, clamp sizes to the exact
    // rank-defined p05/p95 values and account for what was clipped —
    // the outlier-capping step run before any mean-based mixing
    // weight. Percentile VALUES are defined by integer rank positions
    // (rank = max(1, (k·n) div 100)) rather than interpolation, so
    // everything stays exact BIGINT. One ScalableRank pass (20-value
    // key), bounds come back as a broadcast 20-row relation, and the
    // ranked relation is consumed twice off its one materialization.
    "q170_winsorize" -> ((s, d) => {
      val docs = T.documents(s, d).select(col("source"), col("doc_id"), col("n_chars"))
      val ranked = ScalableRank.withRanks(docs, Seq("source"),
        Seq(col("n_chars"), col("doc_id")), Seq(col("n_chars"), col("doc_id")), 32)
      val bounds = ranked.groupBy(col("source")).agg(
        max(when(col("rn") === expr("greatest(1, (5 * ntot) div 100)"), col("n_chars"))).as("lo"),
        max(when(col("rn") === expr("greatest(1, (95 * ntot) div 100)"), col("n_chars"))).as("hi"))
      ranked.join(broadcast(bounds), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          max(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(least(greatest(col("n_chars"), col("lo")), col("hi"))).as("sum_winsorized"))
        .orderBy(col("source"))
    }),

    // Top-k-with-OTHER rollup (the standard report shape: top 3 tokens
    // per source, everything else folded into one OTHER row so shares
    // still total 100%). Token counts are one (source, w) partial agg;
    // the per-source ranking over the vocabulary-sized relation rides
    // ScalableRank (20-value key); the fold is a second keyed agg.
    "q180_topk_others" -> ((s, d) => {
      val wc = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
      ScalableRank.withRanks(wc, Seq("source"),
          Seq(col("n").desc, col("w")), Seq(col("n"), col("w")), 32)
        .withColumn("label", when(col("rn") <= 3, col("w")).otherwise(lit("OTHER")))
        .groupBy(col("source"), col("label"))
        .agg(sum(col("n")).as("n_tok"), count(lit(1)).as("n_words"))
        .orderBy(col("source"), col("n_tok").desc, col("label"))
    }),

    // KMV (k-minimum-values) distinct-count sketch per source, audited
    // against the exact count — the mergeable cardinality summary a
    // catalog keeps per partition/source (the deterministic,
    // oracle-replayable cousin of q21's HLL). est = (k−1)·2^40/h_k
    // where h_k is the k-th smallest 40-bit hash; when fewer than k
    // distinct hashes exist the sketch IS the set and est is exact.
    // Scale: the only full-relation shuffles are the distinct; the
    // sketch build itself ships ≤ P·k rows per source thanks to the
    // WindowGroupLimit partial prune (see kmvSketch) — at 100 TB the
    // sketch relation is 20·128 rows regardless of corpus size.
    "q186_kmv_distinct" -> ((s, d) => {
      val k = 128
      val sh = sourceShingles(s, d)
      val hs = sh.select(col("source"), h40(col("g")).as("h")).distinct()
      val est = kmvSketch(hs, Seq("source"), k)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sk"), max(col("h")).as("hk"))
        .select(col("source"),
          expr(s"CAST(CASE WHEN n_sk >= $k THEN ${(k - 1).toLong * (1L << 40)} div hk ELSE n_sk END AS BIGINT)")
            .as("est_kmv"))
      val exact = sh.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      exact.join(est, "source")
        .select(col("source"), col("n_exact"), col("est_kmv"),
          expr("CAST(abs(est_kmv - n_exact) * 10000 div n_exact AS BIGINT)")
            .as("err_bp"))
        .orderBy(col("source"))
    }),

    // Sketched cross-source content overlap: merge two per-source KMV
    // sketches (bottom-k of S1 ∪ S2 ≡ bottom-k of the two sketches'
    // union — the closure property that makes KMV mergeable), read
    // Jaccard off the union sketch (fraction of its members present in
    // both sides), and scale to an intersection estimate. The exact
    // overlap columns are the audit tier (one gram-keyed pair join,
    // q116's shape); the sketch tier touches only |sources|·k rows —
    // at 100 TB you ship the 20·128-row sketch relation to one
    // executor, never re-scan the corpus per pair.
    "q187_kmv_overlap" -> ((s, d) => {
      val k = 128
      val sh = sourceShingles(s, d)
      val hs = sh.select(col("source"), h40(col("g")).as("h")).distinct()
      val sk = kmvSketch(hs, Seq("source"), k).select(col("source"), col("h"))
      val srcs = sk.select(col("source")).distinct()
      val pairs = broadcast(srcs.select(col("source").as("s1"))
        .crossJoin(srcs.select(col("source").as("s2")))
        .filter(col("s1") < col("s2")))
      val pa = pairs.join(sk.withColumnRenamed("source", "s1"), Seq("s1"))
        .select(col("s1"), col("s2"), col("h"),
          lit(1).as("ia"), lit(0).as("ib"))
      val pb = pairs.join(sk.withColumnRenamed("source", "s2"), Seq("s2"))
        .select(col("s1"), col("s2"), col("h"),
          lit(0).as("ia"), lit(1).as("ib"))
      val merged = pa.unionByName(pb)
        .groupBy(col("s1"), col("s2"), col("h"))
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      val est = kmvSketch(merged, Seq("s1", "s2"), k)
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("kk"), max(col("h")).as("hk"),
          sum(col("ia") * col("ib")).cast("long").as("nboth"))
        .select(col("s1"), col("s2"),
          expr("CAST(nboth * 10000 div kk AS BIGINT)").as("est_j_bp"),
          expr(s"CAST(CASE WHEN kk >= $k THEN nboth * (${(k - 1).toLong * (1L << 40)} div hk) div kk ELSE nboth END AS BIGINT)")
            .as("est_inter"))
      val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("source").as("s1"), col("g"))
        .join(sh.select(col("source").as("s2"), col("g")), Seq("g"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("ni"))
      est.join(inter, Seq("s1", "s2"), "left")
        .join(broadcast(sz.select(col("source").as("s1"), col("n").as("n1"))), Seq("s1"))
        .join(broadcast(sz.select(col("source").as("s2"), col("n").as("n2"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("est_j_bp"), col("est_inter"),
          coalesce(col("ni"), lit(0L)).as("n_inter"),
          expr("CAST(coalesce(ni, 0) * 10000 div (n1 + n2 - coalesce(ni, 0)) AS BIGINT)")
            .as("exact_j_bp"))
        .orderBy(col("s1"), col("s2"))
    }),

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — the hashed-ngram
    // importance-weighting method behind target-domain corpus
    // curation): score every raw doc by how target-like its
    // hashed-bigram feature distribution is,
    //   logw(doc) = Σ_b c_doc(b) · ln λ_b,
    //   λ_b = ((t_b+1)/(T+B)) / ((r_b+1)/(R+B)),
    // the add-one-smoothed bucket probability ratio of the TARGET
    // (here the lang='en' slice — the stand-in for a high-quality
    // target domain) vs the RAW corpus, over B=256 md5-hashed
    // word-bigram buckets. Docs are then selected by global logw rank
    // (top 25). DSIR proper resamples with Gumbel noise ∝ weight; the
    // deterministic top-k keeps the op oracle-replayable — the same
    // determinism trade q137's WSWoR entry documents, in the other
    // direction.
    // Plan shape: one corpus scan → doc-keyed lead window (doc-sized
    // partitions, high-card key) → the bucket tables are B-row
    // aggregates that come back BROADCAST; per-doc weights are one
    // (doc, b)-keyed partial agg + a doc rollup; the global float
    // ranking rides ScalableRank under a constant key (never a
    // single-task window). Nothing exceeds |B| + |docs| keyed
    // partials at any corpus size.
    "q270_dsir_weights" -> ((s, d) =>
      dsirRanked(s, d)
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          round(col("w"), 4).as("dsir_logw_4"),
          when(col("rn") <= DSIR_SEL, 1).otherwise(0).as("selected"))
        .orderBy(col("doc_id"))),

    // In-engine quality classifier (the fastText/CCNet-style gate
    // every web-scale pipeline trains: a linear classifier on hashed
    // n-gram features scoring docs against a target domain): batch-GD
    // LOGISTIC REGRESSION, en-vs-rest, over q270's md5-bucket bigram
    // features (normalized) + bias, LR_ITERS unrolled iterations at
    // η=LR_ETA, trained and served entirely as DataFrame aggregations
    // — and FULLY oracle-checked, because every iteration is
    // deterministic given the md5 coin and batch gradients average
    // float drift instead of amplifying it (measured: 1e-11 jitter →
    // <3e-14 final movement). Honest result on the synthetic corpus:
    // AUC ≈ 0.80 after 6 iterations (partial convergence — the
    // audited trainer is the deliverable, same posture as q266/q268).
    "q273_quality_lr" -> ((s, d) =>
      lrScores(s, d)
        .select(col("doc_id"), col("lang"),
          round(col("score"), 4).as("lr_score_4"))
        .orderBy(col("doc_id"))),

    // In-engine BPE tokenizer induction (Sennrich et al. 2016 — the
    // byte-pair-encoding merge-learning loop every tokenizer build
    // runs before training starts): BPE_T unrolled merge steps. Each
    // step picks the globally most frequent adjacent symbol pair
    // (count desc, then lexicographic — a total order, so the argmax
    // is deterministic) and rewrites every vocabulary word by the
    // standard greedy leftmost non-overlapping merge. q104 computes
    // ONE step's pair statistics; this is the full training loop.
    // Plan shape: the corpus collapses to the (word, count) vocabulary
    // in ONE pass and never reappears — all BPE_T iterations run on
    // the |vocab| relation (Heaps-sublinear in corpus size), exactly
    // how a production BPE trainer is structured. The per-word merge
    // rewrite is an aggregate-HOF left fold: interpreted, but over
    // |vocab| rows only (the documented q104 trade); the pair argmax
    // is a codegen'd (pa,pb)-keyed agg bounded by |symbol-vocab|².
    // The fold IS greedy-leftmost BPE: merging whenever the
    // accumulator's last symbol is pa and the next is pb reproduces
    // leftmost non-overlapping semantics including the a=a run case
    // ("aaaa" -> "aa","aa"), spec'd in CorpusOpsSpec.
    "q274_bpe_trainer" -> ((s, d) => bpeMergeChain(s, d)),

    // BM25 retrieval top-k (Robertson-Sparck Jones Okapi BM25 at
    // k1=1.2, b=0.75 — the lexical-retrieval baseline every
    // data-curation stack keeps next to its ANN tier, and the scoring
    // rule behind retrieval-based decontamination): three 2-term
    // queries derived deterministically from the corpus (the top-6
    // document-frequency terms, round-robin by df rank), each scored
    // against every matching document, top BM25_K per query.
    // Plan shape: tf is the (doc,term)-keyed agg, df/dl are its
    // rollups; the 6-row query relation (with per-term idf) and the
    // 1-row avgdl scalar BROADCAST, so the corpus-sized tf relation
    // is filtered to query terms map-side before the doc-keyed dl
    // join; the per-query ranking rides ScalableRank (qid is a
    // 3-value key — never a single-task window). Exactly 2 terms per
    // query keeps the float score a 2-addend sum: IEEE addition is
    // commutative, so the cross-engine sum is order-proof without a
    // fixed-order pivot; ln(idf) is the one libm call (q208's
    // documented risk class), covered by round-4 output + the
    // rank-boundary margin audit in CorpusOpsSpec.
    "q275_bm25_topk" -> ((s, d) =>
      bm25Ranked(s, d)
        .filter(col("rn") <= BM25_K)
        .select(col("qid"), col("rn").as("rk"), col("doc_id"),
          round(col("score"), 4).as("bm25_4"), col("n_hit"))
        .orderBy(col("qid"), col("rk"))),

    // Rho-1-style selective token scoring (Lin et al. 2024, "Rho-1:
    // Not All Tokens Are What You Need" — score each token by the
    // EXCESS of a reference model's likelihood over the training
    // distribution's, and train only where the reference approves).
    // In-engine proxy: reference = the lang='en' slice's add-one
    // unigram model, train = the full-corpus model; token excess
    // s(w) = ln((c_en+1)/(T_en+V)) − ln((c+1)/(T+V)). Per doc: token
    // count, selected count (s > 0), selection share in bp, and the
    // 2^20-quantized excess SUM. Plan: one token explode; both models
    // are vocabulary-keyed aggs joined back on the vocab key (the
    // q84/q91 posture) with the three scalars broadcast; the per-doc
    // rollup is a doc-keyed partial agg.
    // Cross-engine discipline (round-10 driver red → round-11 fix):
    // the previous round(avg(sx),4) summed libm doubles in engine-
    // specific order — non-associative, boundary docs flip. Now BOTH
    // float sensitivities are per-VOCAB-WORD (deterministic values,
    // auditable) and every per-doc aggregate is an integer sum:
    //  - the s > 0 gate is the EXACT integer compare
    //    (ce+1)*(t+v) > (c+1)*(te+v) — no float at all, widened to
    //    DECIMAL(38,0)/HUGEINT (the q246b/q248 discipline) so the
    //    products ≤ (te+1)(t+v) stay exact to t ≈ 10¹⁹ corpus tokens
    //    (bare BIGINT would wrap silently in Spark past t ≈ 3e9).
    //  - mean excess ships as excess_q20 = Σ_tokens floor(sx·2^20), a
    //    BIGINT (mean recoverable as excess_q20/n_tok/2^20). The only
    //    float op left is the per-word floor, and CorpusOpsSpec audits
    //    that every vocab word's sx·2^20 sits ≥1e-6 from its floor
    //    boundary — 500× the ~2e-9 worst-case cross-engine ln drift
    //    (3 ulps at |sx|≤20, scaled by 2^20).
    "q285_rho1_tokens" -> ((s, d) => {
      val tok = T.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val call = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val cen = tok.filter(col("lang") === "en")
        .groupBy(col("w")).agg(count(lit(1)).as("ce"))
      val scal = call.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
        .crossJoin(cen.agg(sum(col("ce")).as("te")))
      val sw = call.join(cen, Seq("w"), "left_outer")
        .select(col("w"), col("c"), coalesce(col("ce"), lit(0L)).as("ce"))
        .crossJoin(broadcast(scal))
        .select(col("w"),
          // exact integer gate, DECIMAL-widened — see note above
          when((col("ce") + 1).cast("decimal(38,0)") * (col("t") + col("v")) >
               (col("c") + 1).cast("decimal(38,0)") * (col("te") + col("v")), 1L)
            .otherwise(0L).as("selw"),
          floor((log((col("ce") + 1).cast("double") / (col("te") + col("v"))) -
            log((col("c") + 1).cast("double") / (col("t") + col("v")))) *
            lit(1048576.0)).as("qx"))
      tok.join(sw, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(col("selw")).as("n_sel"),
          sum(col("qx")).as("excess_q20"))
        .select(col("doc_id"), col("n_tok"), col("n_sel"),
          expr("(10000 * n_sel) div n_tok").as("sel_bp"),
          col("excess_q20"))
        .orderBy(col("doc_id"))
    }),

    // UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    // More Effective Language Sampling for Large-Scale Multilingual
    // Pretraining"): allocate a token budget across languages as
    // uniformly as possible, capping each language at its available
    // tokens — exact integer WATERFILLING. Closed form over the
    // ascending-by-count language relation: langs below the water
    // level take everything; the rest split the remaining budget
    // evenly (t* = remaining div remaining_count, the first r of them
    // in sort order absorbing the +1 remainder — the deterministic
    // integer-remainder rule the paper's expectation form doesn't
    // need but an exact engine does). Plan shape: ONE corpus pass
    // (the (lang)-keyed token-count agg, partial-agg-fed); everything
    // after runs on the |langs|-row relation — its global window is
    // single-task by construction (the kmeans-init precedent).
    // Negative water levels on unused rows: Spark `div` truncates
    // while DuckDB `//` floors, but those rows only feed the n > t
    // filter, where any negative level passes in both engines.
    "q282_unimax_alloc" -> ((s, d) => {
      val counts = T.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("totn"), count(lit(1)).as("nl"))
      val wAsc = Window.orderBy(col("n"), col("lang"))
      val base = counts.crossJoin(broadcast(tot))
        // |langs| rows: the window runs on a single task by construction
        .withColumn("p", row_number().over(wAsc).cast("long"))
        .withColumn("cum",
          sum(col("n")).over(wAsc.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("budget", expr("totn div 2"))
        .withColumn("tp", expr("(budget - (cum - n)) div (nl - p + 1)"))
      val bstar = base.filter(col("n") > col("tp"))
        .agg(min(struct(col("p").as("pstar"), col("tp").as("tstar"),
          (col("cum") - col("n")).as("cumb"), col("budget").as("budget"),
          col("nl").as("nl"))).as("m"))
        .select(col("m.pstar").as("pstar"), col("m.tstar").as("tstar"),
          (col("m.budget") - col("m.cumb") -
            col("m.tstar") * (col("m.nl") - col("m.pstar") + 1)).as("r"))
      base.crossJoin(broadcast(bstar))
        .select(col("lang"), col("n").as("n_tok"),
          when(col("p") < col("pstar"), col("n"))
            .otherwise(col("tstar") +
              when(col("p") - col("pstar") < col("r"), 1L).otherwise(0L))
            .as("alloc"),
          expr("""CAST((10000 * (CASE WHEN p < pstar THEN n
                                 ELSE tstar + (CASE WHEN p - pstar < r THEN 1 ELSE 0 END)
                                 END)) div n AS BIGINT)""").as("used_bp"))
        .orderBy(col("lang"))
    }),

    // BPE compression curve (the metric a tokenizer build tracks per
    // merge: corpus tokens after each learned merge, step 0 = raw
    // characters). Uses q274's chain states — zero extra corpus
    // passes; each point is a 1-row sum over the vocab relation.
    // Exact-integer invariant spec'd in CorpusOpsSpec: for a pa≠pb
    // merge the drop equals the winning pair count exactly; for a
    // pa=pb merge it is the greedy run count (≤ the raw adjacency
    // count — overlaps in runs collapse).
    "q278_bpe_curve" -> ((s, d) => bpeTokenCurve(s, d)),

    // Unigram-LM tokenizer induction (Kudo 2018 — the SentencePiece
    // default, the OTHER tokenizer-induction family next to BPE):
    // deterministic hard-EM. Seed = every ≤UNI_PL-char substring of
    // the vocabulary with position-multiplicity counts; each EM step
    // Viterbi-segments every vocabulary word under the current piece
    // log-probs (a per-word DP+backtrack fold — vocab-sized, never a
    // corpus pass), recounts pieces from the chosen segmentations,
    // and prunes to all single chars (usage+1 — coverage floor) plus
    // the top-UNI_S multi-char pieces by (count desc, piece). Fully
    // oracle-checked: DuckDB replays the identical DP as unrolled
    // position CTEs and the identical longest-piece backtrack; the
    // published counts are exact integers, and the only floats (ln
    // log-probs) feed argmax decisions whose margins CorpusOpsSpec
    // audits (the kmeans discipline).
    "q291_unigram_lm_trainer" -> ((s, d) => unigramTrainer(s, d)),

    // Unigram compression curve — q278's BPE twin: corpus tokens
    // under each EM step's Viterbi segmentation (step 0 = the
    // single-char baseline), the number a tokenizer build tracks to
    // compare induction families at equal inventory budgets.
    "q292_unigram_curve" -> ((s, d) => unigramTokenCurve(s, d)),

    // Unigram-LM SOFT-EM trainer (round-14, r13 verdict item 5 —
    // Kudo 2018's actual E-step next to q291's Viterbi hard-EM):
    // expected piece counts by forward-backward posteriors over ALL
    // segmentations of each vocabulary word, not just the best path.
    // Same vocab-sized cost shape as q291 (the corpus collapses to
    // (word, count) once; every EM pass is a per-word fold). The
    // float discipline is STRONGER than hard-EM's margin-audited
    // argmax: probabilities are raw cnt/tot ratios (no ln), the α/β
    // DP runs in a fixed fold order both engines replay with the
    // identical expression tree (bit-identical IEEE doubles), and
    // each occurrence term floor-quantizes to an exact q20 BIGINT
    // before any unordered cross-row sum — so the published relation
    // is exact integers end to end (CorpusOpsSpec proves the
    // fixed-order claim by driver replay; the oracle gate proves the
    // cross-engine half).
    "q296_unigram_soft_em" -> ((s, d) => unigramSoftTrainer(s, d)),

    // SentencePiece's ACTUAL trainer shape (Kudo 2018 §3.2, the r14
    // verdict item 6): EM alternating with likelihood-loss pruning
    // until the target vocabulary — see [[unigramPruneLoop]] for the
    // leave-one-out loss in the engine's no-ln fixed-point story.
    "q301_unigram_prune_loop" -> ((s, d) => unigramPruneLoop(s, d)),

    // Soft-EM expected-token curve — q292's posterior-weighted twin:
    // Σ of occurrence posteriors per step (in q20 units) instead of
    // Viterbi path lengths; always ≤ the hard curve's count at step 0
    // and the number SentencePiece's EM actually descends on.
    "q297_unigram_soft_curve" -> ((s, d) => unigramSoftCurve(s, d))
  )

  /** The q270 DSIR chain up to the UNROUNDED weights + global rank —
    * public so CorpusOpsSpec can audit boundary distances (the round-4
    * digits and the rank-25 selection edge) directly, the same role
    * PreferenceOps.btStrengths plays for q268.
    */
  def dsirRanked(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    ScalableRank.withRanks(dsirWeighted(s, d), Seq("g"),
        Seq(col("w").desc, col("doc_id")),
        Seq(col("w"), col("doc_id")), p)
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("w"), col("rn"))
  }

  /** The q274 BPE merge-learning chain: (step, pa, pb, n_occ), one row
    * per learned merge. Public so CorpusOpsSpec can replay it
    * from-scratch and audit the argmax margins. The corpus is read
    * ONCE (the word-count agg, checkpointed); each of the `iters`
    * steps is a pair-stats argmax over the vocabulary (codegen'd
    * keyed agg, total-order tiebreak count desc/pa/pb) followed by
    * the greedy-leftmost fold rewrite against the broadcast 1-row
    * winner. Vocab and winner relations localCheckpoint per step —
    * the kmeans-chain lineage discipline (each is referenced by the
    * next step AND the output union).
    */
  def bpeMergeChain(s: SparkSession, d: String, iters: Int = BPE_T): DataFrame =
    bpeChainState(s, d, iters)._1.reduce(_ unionByName _)
      .select(col("step"), col("pa").as("merge_left"), col("pb").as("merge_right"),
        col("n_occ"))
      .orderBy(col("step"))

  /** The shared BPE loop state: (per-step winning merges, per-step
    * vocab relations bv0..bvT). q274 formats the merges; q278 folds
    * the vocab states into the compression curve.
    */
  /** The UNCHECKPOINTED (c, syms) vocabulary relation — q274/q278's
    * one corpus pass, public so PlanAuditSpec can pin that its only
    * exchange is the partial-agg-fed word-count rollup (the
    * checkpoint hides it from a whole-query audit).
    */
  def bpeVocab(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("c"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))

  private def bpeChainState(s: SparkSession, d: String,
      iters: Int): (List[DataFrame], List[DataFrame]) = {
    var vocab = bpeVocab(s, d).localCheckpoint(true)
    var steps = List.empty[DataFrame]
    var vocabs = List(vocab)
    for (t <- 1 to iters) {
      // size >= 2 filter BEFORE the sequence: sequence(1, 0) is
      // DESCENDING in Spark, not empty (the q99 trap).
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
            "'pa', element_at(syms, i), 'pb', element_at(syms, i + 1)))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("c")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pa"), col("pb")).limit(1)
        .select(lit(t).as("step"), col("pa"), col("pb"), col("n_occ"))
        .localCheckpoint(true)
      steps = steps :+ best
      vocab = vocab.crossJoin(broadcast(best.select(col("pa"), col("pb"))))
        .select(col("c"), expr(
          """aggregate(slice(syms, 2, size(syms) - 1), array(element_at(syms, 1)),
            |  (acc, x) -> CASE WHEN element_at(acc, -1) = pa AND x = pb
            |              THEN concat(slice(acc, 1, size(acc) - 1), array(concat(pa, pb)))
            |              ELSE concat(acc, array(x)) END)""".stripMargin).as("syms"))
        .localCheckpoint(true)
      vocabs = vocabs :+ vocab
    }
    (steps, vocabs)
  }

  /** The (w, c) word vocabulary for the unigram-LM trainer — the one
    * corpus pass (the bpeVocab discipline with the word kept whole).
    */
  def uniVocab(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** The Viterbi segmentation of `w` under the piece log-prob map
    * `pm`, as ONE aggregate-HOF expression (interpreted, but over
    * |vocab| rows only — the q274 fold trade): the init struct builds
    * the DP best[] array (best[j] stored at index j+1; arms are
    * best[s−1] + lp(substr(w, s, j−s+1)) over s ∈ [j−UNI_PL+1, j],
    * absent pieces → −1e18 sentinel, always beaten because single
    * chars are always in the inventory), then UNI_MAXLEN fold steps
    * backtrack from pos = len: among arms that exactly reproduce
    * best[pos] (same-engine double equality — the arm recomputes the
    * identical expression the array_max saw), pick the SMALLEST s
    * (longest piece), emit it, jump to s−1. Package-private for the
    * spec's driver replay.
    */
  private[graft] val uniSegExpr: String = {
    val pick =
      s"""element_at(filter(transform(
         |  sequence(greatest(1, st.pos - ${UNI_PL - 1}), st.pos),
         |  s -> CASE WHEN element_at(pm, substring(w, s, st.pos - s + 1)) IS NOT NULL
         |            AND element_at(st.best, s) +
         |                element_at(pm, substring(w, s, st.pos - s + 1))
         |                = element_at(st.best, st.pos + 1)
         |       THEN substring(w, s, st.pos - s + 1) END),
         |  q -> q IS NOT NULL), 1)""".stripMargin
    s"""aggregate(
       |  sequence(1, $UNI_MAXLEN),
       |  named_struct(
       |    'pos', length(w),
       |    'ps', CAST(array() AS array<string>),
       |    'best', aggregate(sequence(1, length(w)),
       |      array(CAST(0.0 AS DOUBLE)),
       |      (acc, j) -> concat(acc, array(array_max(transform(
       |        sequence(greatest(1, j - ${UNI_PL - 1}), j),
       |        s -> CASE WHEN element_at(pm, substring(w, s, j - s + 1)) IS NOT NULL
       |             THEN element_at(acc, s) + element_at(pm, substring(w, s, j - s + 1))
       |             ELSE CAST(-1e18 AS DOUBLE) END))))
       |    )),
       |  (st, z) -> CASE WHEN st.pos <= 0 THEN st ELSE named_struct(
       |    'pos', st.pos - length($pick),
       |    'ps', concat(array($pick), st.ps),
       |    'best', st.best) END,
       |  st -> st.ps)""".stripMargin
  }

  /** The unigram trainers' shared start (q291/q292, q296/q297, q301):
    * the checkpointed (w, c) vocabulary, the seed counts of every
    * substring of length ≤ UNI_PL weighted by word count, and the
    * seed's single chars, which are never pruned. Fails loudly, naming
    * `entry`, on an empty vocabulary (max() over it is a NULL row) or
    * on a word longer than UNI_MAXLEN.
    */
  private def uniSeed(s: SparkSession, d: String, entry: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val words = uniVocab(s, d).localCheckpoint(true)
    val maxLenRow = words.agg(max(length(col("w")))).head()
    require(!maxLenRow.isNullAt(0),
      s"$entry: empty word vocabulary — the corpus produced no words")
    require(maxLenRow.getInt(0) <= UNI_MAXLEN,
      s"$entry: max word length ${maxLenRow.getInt(0)} exceeds UNI_MAXLEN=$UNI_MAXLEN " +
        "— widen the dial (both engines' unrolled DP covers UNI_MAXLEN positions)")
    val seed = words
      .select(col("c"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), s ->
           |  transform(sequence(s, least(s + ${UNI_PL - 1}, length(w))), e ->
           |    substring(w, s, e - s + 1))))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("c")).as("cnt"))
      .localCheckpoint(true)
    (words, seed, seed.filter(length(col("p")) === 1).select(col("p")))
  }

  /** Piece smoothing: every char at its count + `floor` (coverage —
    * an unused char must stay segmentable), plus the top UNI_S
    * multi-char pieces by (cnt desc, p).
    */
  private def uniAdjust(chars: DataFrame, counts: DataFrame, floor: Long): DataFrame =
    chars.join(counts, Seq("p"), "left_outer")
      .select(col("p"), (coalesce(col("cnt"), lit(0L)) + floor).as("cnt"))
      .unionByName(counts.filter(length(col("p")) >= 2)
        .orderBy(col("cnt").desc, col("p")).limit(UNI_S))

  /** The soft chains' step-0 inventory: the seed counts in q20 units,
    * smoothed with a floor of one unit.
    */
  private def uniSoftSeed(chars: DataFrame, seed: DataFrame): DataFrame =
    uniAdjust(chars, seed.select(col("p"), (col("cnt") * UNI_Q).as("cnt")), UNI_Q)
      .localCheckpoint(true)

  /** Raw piece probabilities cnt/tot from exact q20 integers, as one
    * map row `pm`. The total rides the DECIMAL overflow path, and both
    * engines cast the same exact integer to the same nearest double
    * before the one division.
    */
  private def uniSoftPm(pieces: DataFrame): DataFrame =
    pieces
      .crossJoin(broadcast(
        pieces.agg(sum(col("cnt").cast("decimal(38,0)")).as("tot"))))
      .select(col("p"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("pr"))
      .agg(map_from_entries(collect_list(struct(col("p"), col("pr")))).as("pm"))

  /** The shared unigram-LM hard-EM loop state: (per-step piece tables
    * up0..upT with their smoothed counts, per-step segmented vocab
    * relations seg1..segT). The corpus collapses to the (word, count)
    * vocabulary once; every EM iteration is vocab-sized. Counts are
    * exact integers; the ONLY floats are the ln() log-probs feeding
    * the per-word argmax (the kmeans argmin-margin discipline —
    * cross-engine ln drift is O(ulp), decision margins audited in
    * CorpusOpsSpec). Piece smoothing: single chars are ALWAYS kept at
    * usage+1 (coverage floor — an unused char must stay segmentable);
    * multi-char pieces keep their raw usage and only the top UNI_S by
    * (count desc, piece) survive pruning — a deterministic total
    * order, like the BPE argmax tiebreak.
    */
  private def unigramChainState(s: SparkSession, d: String)
      : (List[DataFrame], List[DataFrame]) = {
    val (words, seed, charSet) = uniSeed(s, d, "unigram trainer (q291/q292)")
    var pieces = uniAdjust(charSet, seed, 1L).localCheckpoint(true)
    var pieceSteps = List(pieces)
    var segSteps = List.empty[DataFrame]
    for (_ <- 1 to UNI_T) {
      val pm = pieces
        .crossJoin(broadcast(pieces.agg(sum(col("cnt")).as("tot"))))
        .select(col("p"),
          (log(col("cnt").cast("double")) - log(col("tot").cast("double"))).as("lp"))
        .agg(map_from_entries(collect_list(struct(col("p"), col("lp")))).as("pm"))
      val segs = words.crossJoin(broadcast(pm))
        .select(col("w"), col("c"), expr(uniSegExpr).as("seg"))
        .localCheckpoint(true)
      segSteps = segSteps :+ segs
      val usage = segs.select(col("c"), explode(col("seg")).as("p"))
        .groupBy(col("p")).agg(sum(col("c")).as("cnt"))
      pieces = uniAdjust(charSet, usage, 1L).localCheckpoint(true)
      pieceSteps = pieceSteps :+ pieces
    }
    (pieceSteps, segSteps)
  }

  /** q291: the piece inventory with its (smoothed) counts after each
    * EM step, step 0 = the seed inventory.
    */
  def unigramTrainer(s: SparkSession, d: String): DataFrame = {
    val (pieceSteps, _) = unigramChainState(s, d)
    pieceSteps.zipWithIndex.map { case (pdf, t) =>
      pdf.select(lit(t.toLong).as("em_step"), col("p").as("piece"), col("cnt"))
    }.reduce(_ unionByName _).orderBy(col("em_step"), col("piece"))
  }

  /** q292: corpus tokens under the step-t Viterbi segmentation
    * (step 0 = the single-char baseline) — the unigram twin of q278's
    * BPE compression curve.
    */
  def unigramTokenCurve(s: SparkSession, d: String): DataFrame = {
    val (_, segSteps) = unigramChainState(s, d)
    val words = uniVocab(s, d)
    val step0 = words
      .agg(sum(col("c") * length(col("w"))).cast("long").as("corpus_tokens"))
      .select(lit(0L).as("step"), col("corpus_tokens"))
    segSteps.zipWithIndex.map { case (sg, i) =>
      sg.agg(sum(col("c") * size(col("seg"))).cast("long").as("corpus_tokens"))
        .select(lit((i + 1).toLong).as("step"), col("corpus_tokens"))
    }.foldLeft(step0)(_ unionByName _).orderBy(col("step"))
  }

  /** Fixed-point scale for the soft-EM expected counts — 2^20, the
    * q285/q287 quantization scale. Envelope: published q20 counts are
    * BIGINT, exact while corpus_chars·2^20 < 2^63 (≈9e12 chars ≈ 10 TB
    * of text); beyond that the dial is a smaller scale, and the
    * interior aggregation already runs in DECIMAL(38,0)/HUGEINT so
    * nothing wraps silently before the output cast.
    */
  val UNI_Q = 1048576L

  /** Forward probabilities of the unigram lattice as ONE fold (needs
    * w, pm — pm maps piece → RAW probability, not log): al[j+1] =
    * α_j = Σ_s α_{s−1}·P(w[s..j]), inner fold s ascending. The
    * whole soft-EM float story rides on this being a FIXED-ORDER
    * chain of IEEE ops with libm-free inputs (P = cnt/tot, one
    * correctly-rounded division): the DuckDB replay evaluates the
    * literally identical expression tree (same association order,
    * same CASE-0 padding for absent arms — x + 0.0 = x bitwise for
    * the non-negative products here), so α/β/term doubles are
    * BIT-IDENTICAL across engines, and the one floor quantization
    * per occurrence turns them into order-proof exact integers
    * before any cross-row aggregation. CorpusOpsSpec proves the
    * Spark side of that claim by a driver replay (exact tq equality
    * for every word).
    */
  private[graft] val uniSoftAlphaExpr: String =
    s"""aggregate(
       |  sequence(1, length(w)),
       |  array(CAST(1 AS DOUBLE)),
       |  (acc, j) -> concat(acc, array(
       |    aggregate(sequence(greatest(1, j - ${UNI_PL - 1}), j), CAST(0 AS DOUBLE),
       |      (sm, s) -> sm + CASE WHEN element_at(pm, substring(w, s, j - s + 1)) IS NOT NULL
       |           THEN element_at(acc, s) * element_at(pm, substring(w, s, j - s + 1))
       |           ELSE CAST(0 AS DOUBLE) END))))""".stripMargin

  /** Backward probabilities, indexed by DISTANCE FROM THE END so the
    * unrolled SQL replay is uniform across word lengths: bt[k+1] =
    * β at distance k = Σ_l P(w[L−k+1 .. L−k+l])·β at distance k−l,
    * inner fold l ascending.
    */
  private[graft] val uniSoftBetaExpr: String =
    s"""aggregate(
       |  sequence(1, length(w)),
       |  array(CAST(1 AS DOUBLE)),
       |  (acc, k) -> concat(acc, array(
       |    aggregate(sequence(1, least($UNI_PL, k)), CAST(0 AS DOUBLE),
       |      (sm, l) -> sm + CASE WHEN element_at(pm, substring(w, length(w) - k + 1, l)) IS NOT NULL
       |           THEN element_at(pm, substring(w, length(w) - k + 1, l)) * element_at(acc, k - l + 1)
       |           ELSE CAST(0 AS DOUBLE) END))))""".stripMargin

  /** Per-occurrence expected counts, floor-quantized at 2^20 (needs
    * w, c, pm, al, bt): for the occurrence of piece w[s..s+l−1],
    * tq = ⌊c · α_{s−1}·P·β_{after} / Z · 2^20⌋ — the posterior count
    * of that occurrence, in q20 units, as an exact BIGINT. β index:
    * distance from end of position e = s+l−1 is L−e, stored at
    * L−s−l+2; Z = α_L = al[L+1].
    */
  private[graft] val uniSoftTermsExpr: String =
    s"""filter(flatten(transform(sequence(1, length(w)), s ->
       |  transform(sequence(1, least($UNI_PL, length(w) - s + 1)), l ->
       |    CASE WHEN element_at(pm, substring(w, s, l)) IS NOT NULL THEN
       |      named_struct('p', substring(w, s, l), 'tq',
       |        CAST(floor((CAST(c AS DOUBLE) * ((element_at(al, s) * element_at(pm, substring(w, s, l))) * element_at(bt, length(w) - s - l + 2)) / element_at(al, length(w) + 1)) * CAST($UNI_Q AS DOUBLE)) AS BIGINT))
       |    END))),
       |  x -> x IS NOT NULL)""".stripMargin

  /** The unigram-LM SOFT-EM loop state (q296/q297 — the
    * forward-backward twin of [[unigramChainState]], r13 verdict item
    * 5): same seed inventory and pruning discipline, but each EM step
    * recounts pieces by their POSTERIOR expected counts over ALL
    * segmentations instead of the single Viterbi path. Returns
    * (per-step piece tables usp0..uspT with q20 fixed-point counts,
    * per-step quantized occurrence-term relations).
    *
    * Float story (CLEANER than the hard-EM's, which leans on argmax
    * margins): probabilities are raw cnt/tot ratios — no ln anywhere —
    * α/β/terms evaluate in fixed fold order (see
    * [[uniSoftAlphaExpr]]), each occurrence term floor-quantizes to
    * BIGINT before any unordered aggregation, and every cross-row sum
    * thereafter is exact integer arithmetic (DECIMAL(38,0)/HUGEINT on
    * the overflow path). Z > 0 always: single chars are never pruned,
    * so every word has at least the all-chars segmentation.
    */
  private def unigramSoftState(s: SparkSession, d: String)
      : (List[DataFrame], List[DataFrame]) = {
    val (words, seed, charSet) = uniSeed(s, d, "unigram soft trainer (q296/q297)")
    var pieces = uniSoftSeed(charSet, seed)
    var pieceSteps = List(pieces)
    var termSteps = List.empty[DataFrame]
    for (_ <- 1 to UNI_T) {
      val terms = words.crossJoin(broadcast(uniSoftPm(pieces)))
        .withColumn("al", expr(uniSoftAlphaExpr))
        .withColumn("bt", expr(uniSoftBetaExpr))
        .select(explode(expr(uniSoftTermsExpr)).as("t"))
        .select(col("t.p").as("p"), col("t.tq").as("tq"))
        .localCheckpoint(true)
      termSteps = termSteps :+ terms
      val usage = terms.groupBy(col("p"))
        .agg(sum(col("tq").cast("decimal(38,0)")).cast("long").as("cnt"))
      pieces = uniAdjust(charSet, usage, UNI_Q).localCheckpoint(true)
      pieceSteps = pieceSteps :+ pieces
    }
    (pieceSteps, termSteps)
  }

  /** q301 dial: the multi-char inventory size the prune loop shrinks
    * to (SentencePiece's vocab_size), from UNI_S=24 via the paper's
    * 75% shrinking factor: 24 → 18 → 13 → 12.
    */
  val UNI_PRUNE_TARGET = 12

  /** The per-round keep sizes implied by (UNI_S, 3/4 shrink, target):
    * both the Spark loop and the SQL generator unroll THIS list, so
    * the two engines can never disagree on the round count.
    */
  private[graft] val uniPruneKeeps: List[Int] = {
    val b = scala.collection.mutable.ListBuffer.empty[Int]
    var n = UNI_S
    while (n > UNI_PRUNE_TARGET) {
      n = math.max(UNI_PRUNE_TARGET, (3 * n) / 4)
      b += n
    }
    b.toList
  }

  /** Distinct multi-char substrings of `w` present in the current
    * inventory map `pm` — the per-word candidate set the prune loss
    * evaluates (needs w, pm).
    */
  private[graft] val uniMultiInWExpr: String =
    s"""filter(array_distinct(flatten(transform(sequence(1, length(w)), s ->
       |  transform(sequence(s, least(s + ${UNI_PL - 1}, length(w))), e ->
       |    substring(w, s, e - s + 1))))),
       |  x -> length(x) >= 2 AND element_at(pm, x) IS NOT NULL)""".stripMargin

  /** [[uniSoftAlphaExpr]] with one piece EXCLUDED (needs w, pm, px):
    * the leave-one-out forward DP — Z without px's arms. Identical
    * fold orders, so per-arm floats match the base chain's exactly;
    * the exclusion only swaps some arms to the same explicit 0.0 the
    * base chain uses for absent pieces (adding 0.0 to a non-negative
    * double is exact), hence Z^{−p} ≤ Z holds in float, not just in
    * exact arithmetic (non-negative float addition is monotone).
    */
  private[graft] val uniSoftAlphaExclExpr: String =
    s"""aggregate(
       |  sequence(1, length(w)),
       |  array(CAST(1 AS DOUBLE)),
       |  (acc, j) -> concat(acc, array(
       |    aggregate(sequence(greatest(1, j - ${UNI_PL - 1}), j), CAST(0 AS DOUBLE),
       |      (sm, s) -> sm + CASE WHEN substring(w, s, j - s + 1) <> px
       |           AND element_at(pm, substring(w, s, j - s + 1)) IS NOT NULL
       |           THEN element_at(acc, s) * element_at(pm, substring(w, s, j - s + 1))
       |           ELSE CAST(0 AS DOUBLE) END))))""".stripMargin

  /** q301: the SentencePiece prune loop (Kudo 2018 §3.2 — the piece
    * the r14 verdict asked for next to the fixed-inventory EM of
    * q296): alternate one soft-EM recount with vocabulary PRUNING by
    * leave-one-out likelihood loss until the target size. The loss
    * for piece p is the posterior probability mass of segmentations
    * that USE p, summed over word occurrences —
    * loss_p = Σ_w c_w·⌊((Z_w − Z_w^{−p})/Z_w)·2^20⌋ — where Z^{−p}
    * is the forward DP with p's arms removed
    * ([[uniSoftAlphaExclExpr]]); dropping the lowest-loss pieces is
    * exactly dropping the pieces whose removal costs the corpus
    * likelihood least (the paper's criterion, in the engine's no-ln
    * fixed-point discipline: one floor per word before any unordered
    * sum, exact-integer ranking after). Keep sizes unroll
    * [[uniPruneKeeps]] (24 → 18 → 13 → 12, the 75% shrink); single
    * chars are never pruned (coverage). Scale shape: every relation
    * is word-vocab-sized (Heaps-sublinear) × a ≤ UNI_S piece factor;
    * the corpus is touched once for the vocab count.
    *
    * Output: one row per (round, evaluated multi-char piece) with
    * its recounted expected usage, its loss, and whether it survived
    * that round's cut — the per-step pruned vocab + loss audit trail.
    */
  def unigramPruneLoop(s: SparkSession, d: String): DataFrame = {
    val (words, seed, charSet) = uniSeed(s, d, "unigram prune loop (q301)")
    var pieces = uniSoftSeed(charSet, seed)
    var rounds = List.empty[DataFrame]
    uniPruneKeeps.zipWithIndex.foreach { case (kKeep, r0) =>
      val r = r0 + 1
      // one DP pass feeds BOTH the EM recount (terms) and the loss
      val withDp = words.crossJoin(broadcast(uniSoftPm(pieces)))
        .withColumn("al", expr(uniSoftAlphaExpr))
        .withColumn("bt", expr(uniSoftBetaExpr))
        .localCheckpoint(true)
      val usage = withDp
        .select(explode(expr(uniSoftTermsExpr)).as("t"))
        .select(col("t.p").as("p"), col("t.tq").as("tq"))
        .groupBy(col("p"))
        .agg(sum(col("tq").cast("decimal(38,0)")).cast("long").as("cnt"))
        .localCheckpoint(true)
      val loss = withDp
        .select(col("w"), col("c"), col("pm"), col("al"),
          explode(expr(uniMultiInWExpr)).as("px"))
        .withColumn("alx", expr(uniSoftAlphaExclExpr))
        .select(col("px").as("p"),
          expr(s"""CAST(floor((CAST(c AS DOUBLE) *
                   |  ((element_at(al, length(w) + 1) - element_at(alx, length(w) + 1))
                   |   / element_at(al, length(w) + 1))) * CAST($UNI_Q AS DOUBLE))
                   |AS BIGINT)""".stripMargin).as("lq"))
        .groupBy(col("p"))
        .agg(sum(col("lq").cast("decimal(38,0)")).cast("long").as("loss"))
      val multi = usage.filter(length(col("p")) >= 2)
        .join(loss, Seq("p"), "left_outer")
        .select(col("p"), col("cnt"), coalesce(col("loss"), lit(0L)).as("loss"))
        .localCheckpoint(true)
      val kept = multi.orderBy(col("loss").desc, col("p")).limit(kKeep)
        .select(col("p"))
      rounds = rounds :+ multi
        .join(kept.withColumn("k", lit(1L)), Seq("p"), "left_outer")
        .select(lit(r.toLong).as("round"), col("p").as("piece"),
          col("cnt").as("cnt_q20"), col("loss").as("loss_q20"),
          coalesce(col("k"), lit(0L)).as("kept"))
      pieces = charSet.join(usage, Seq("p"), "left_outer")
        .select(col("p"), (coalesce(col("cnt"), lit(0L)) + UNI_Q).as("cnt"))
        .unionByName(usage.join(kept, Seq("p"), "left_semi")
          .select(col("p"), col("cnt")))
        .localCheckpoint(true)
    }
    rounds.reduce(_ unionByName _).orderBy(col("round"), col("piece"))
  }

  /** q296: the piece inventory with q20 fixed-point expected counts
    * after each soft-EM step (step 0 = the seed inventory, exact
    * counts scaled by 2^20).
    */
  def unigramSoftTrainer(s: SparkSession, d: String): DataFrame = {
    val (pieceSteps, _) = unigramSoftState(s, d)
    pieceSteps.zipWithIndex.map { case (pdf, t) =>
      pdf.select(lit(t.toLong).as("em_step"), col("p").as("piece"),
        col("cnt").as("cnt_q20"))
    }.reduce(_ unionByName _).orderBy(col("em_step"), col("piece"))
  }

  /** q297: expected corpus tokens per soft-EM step in q20 units —
    * the posterior-weighted twin of q292's Viterbi curve (each
    * occurrence contributes its posterior probability instead of a
    * 0/1 path indicator; step 0 = the single-char baseline, exact).
    */
  def unigramSoftCurve(s: SparkSession, d: String): DataFrame = {
    val (_, termSteps) = unigramSoftState(s, d)
    val words = uniVocab(s, d)
    val step0 = words
      .agg((sum((col("c") * length(col("w"))).cast("decimal(38,0)")) * UNI_Q)
        .cast("long").as("exp_tokens_q20"))
      .select(lit(0L).as("step"), col("exp_tokens_q20"))
    termSteps.zipWithIndex.map { case (tr, i) =>
      tr.agg(sum(col("tq").cast("decimal(38,0)")).cast("long").as("exp_tokens_q20"))
        .select(lit((i + 1).toLong).as("step"), col("exp_tokens_q20"))
    }.foldLeft(step0)(_ unionByName _).orderBy(col("step"))
  }

  /** The q278 compression curve: corpus token count after each merge
    * step (step 0 = characters). Each point is a 1-row sum over the
    * |vocab| relation the chain already checkpointed — no extra
    * corpus work beyond q274's one pass.
    */
  def bpeTokenCurve(s: SparkSession, d: String, iters: Int = BPE_T): DataFrame = {
    val (_, vocabs) = bpeChainState(s, d, iters)
    vocabs.zipWithIndex.map { case (vb, t) =>
      vb.agg(sum(col("c") * size(col("syms"))).cast("long").as("corpus_tokens"))
        .select(lit(t).as("step"), col("corpus_tokens"))
    }.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** The q275 BM25 chain up to the UNROUNDED ranked scores — public so
    * CorpusOpsSpec can audit the rank-boundary margins (the role
    * dsirRanked plays for q270). Query set: the top-6 df terms,
    * qid = ((df-rank − 1) % 3) + 1 — three 2-term queries. The 6-row
    * ranking window runs on a single task by construction (the
    * kmeans-init precedent); everything corpus-sized is keyed aggs +
    * one broadcast-filtered doc join.
    */
  def bm25Ranked(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    ScalableRank.withRanks(bm25Scored(s, d), Seq("qid"),
        Seq(col("score").desc, col("doc_id")),
        Seq(col("score"), col("doc_id")), p)
      .select(col("qid"), col("rn"), col("doc_id"), col("score"), col("n_hit"))
  }

  /** The pre-rank (qid, doc_id, score, n_hit) relation — public so
    * PlanAuditSpec can pin the broadcast shape (ScalableRank's
    * localCheckpoint hides it from a whole-query plan audit).
    */
  def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val tok = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("dfw"))
    val scalars = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(tok.agg(count(lit(1)).as("n_toks")))
      .select(col("n_docs"),
        (col("n_toks").cast("double") / col("n_docs")).as("avgdl"))
    val wTop = Window.orderBy(col("dfw").desc, col("w"))
    val qx = dft.orderBy(col("dfw").desc, col("w")).limit(6)
      // 6 rows: the rank window runs on a single task by construction
      .select(row_number().over(wTop).as("rk6"), col("w"), col("dfw"))
      .crossJoin(broadcast(scalars))
      .select((((col("rk6") - 1) % 3) + 1).as("qid"), col("w"),
        log(lit(1.0) +
          (col("n_docs") - col("dfw") + lit(0.5)) / (col("dfw") + lit(0.5))).as("idf"),
        col("avgdl"))
    val contrib = tf.join(broadcast(qx), Seq("w"))
      .join(dl, Seq("doc_id"))
      .select(col("qid"), col("doc_id"),
        (col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))).as("contrib"))
    contrib.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_hit"))
  }

  /** q273 trainer dials: learning rate and unrolled batch-GD
    * iteration count. η=8/T=6 measured: AUC 0.80 on the en-vs-rest
    * task at sf0.01, and a 1e-11 per-score jitter moves the final
    * scores by < 3e-14 (batch gradients AVERAGE cross-engine float
    * drift away rather than amplifying it — the property that makes
    * an iterative float trainer oracle-checkable at all).
    */
  val LR_ETA = 8.0
  val LR_ITERS = 6

  /** One row (doc_id, lang, b) per adjacent word pair of a doc, `b`
    * its md5-bucket coin in [0, DSIR_B) — the bigram feature that
    * q270 and q273 count.
    */
  private def bigramBuckets(s: SparkSession, d: String): DataFrame = {
    val tok = T.documents(s, d)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("i", "w")))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    tok.withColumn("w2", lead(col("w"), 1).over(wd))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("lang"),
        (h32(concat(col("w"), lit(" "), col("w2"))) % DSIR_B).as("b"))
  }

  /** q273 feature relation: per-doc NORMALIZED hashed-bigram
    * frequencies (the q270 md5-bucket coin, x = c_db / n_d) plus a
    * constant bias feature at b = −1. Public for the plan audit.
    */
  def lrFeatures(s: SparkSession, d: String): DataFrame = {
    val f = bigramBuckets(s, d)
    val nd = f.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    f.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(nd, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("b"),
        (col("c").cast("double") / col("n")).as("x"))
      .unionByName(T.documents(s, d)
        .select(col("doc_id"), col("lang"), lit(-1L).as("b"), lit(1.0).as("x")))
  }

  /** The q273 trainer: batch-GD logistic regression (en-vs-rest) on
    * [[lrFeatures]], LR_ITERS unrolled iterations, final per-doc
    * logit scores (doc_id, lang, score) UNROUNDED — public for the
    * spec's from-scratch replay.
    *
    * The feature relation is localCheckpoint'ed ONCE — that is the
    * feature-extraction materialization every epoch-style trainer
    * performs (unlike the kmeans chains, whose iterations only need
    * the k-row centroid relation, GD re-reads every doc's features
    * each iteration — recomputing the tokenize+window pass ×2T would
    * be the real waste). Per iteration: the 257-row weight relation
    * BROADCASTS into a doc-keyed scoring agg, residuals join back
    * feature-keyed, and the gradient is a b-keyed partial agg —
    * nothing beyond |docs| + |B| keyed partials moves, at any corpus
    * size.
    */
  def lrScores(s: SparkSession, d: String): DataFrame = {
    val feats = lrFeatures(s, d).localCheckpoint(true)
    val n = broadcast(T.documents(s, d).agg(count(lit(1)).as("n")))
    var w = feats.select(col("b")).distinct()
      .select(col("b"), lit(0.0).as("w")).localCheckpoint(true)
    for (_ <- 1 to LR_ITERS) {
      val res = feats.join(broadcast(w), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("x") * col("w")).as("s"))
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("s"))) -
           when(col("lang") === "en", 1.0).otherwise(0.0)).as("r"))
      val grad = feats.join(res, Seq("doc_id"))
        .groupBy(col("b")).agg(sum(col("r") * col("x")).as("g"))
      w = w.join(grad, Seq("b")).crossJoin(n)
        .select(col("b"),
          (col("w") - lit(LR_ETA) * col("g") / col("n")).as("w"))
        .localCheckpoint(true)
    }
    feats.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("x") * col("w")).as("score"))
  }

  /** q270's pre-rank relation (doc_id, lang, n_bigrams, w, g) — public
    * so PlanAuditSpec can pin the broadcast-λ / partial-agg shape
    * directly: inside [[dsirRanked]] this whole subtree sits behind
    * ScalableRank's localCheckpoint, invisible to a plan audit of the
    * full query.
    */
  def dsirWeighted(s: SparkSession, d: String): DataFrame = {
    val f = bigramBuckets(s, d)
    // ONE bucket pass serves raw counts, target counts AND the totals
    // (the totals are sums of the B-row relation itself) — the corpus
    // is touched exactly twice: this pass and the per-doc pass below.
    val bt = f.groupBy(col("b"))
      .agg(count(lit(1)).as("r"),
           sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"))
    val tots = broadcast(bt.agg(sum(col("r")).as("rt"), sum(col("t")).as("tt")))
    val lam = broadcast(bt.crossJoin(tots)
      .select(col("b"),
        (log((col("t") + 1).cast("double") / (col("tt") + DSIR_B)) -
         log((col("r") + 1).cast("double") / (col("rt") + DSIR_B)))
          .as("lam")))
    f.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(lam, Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_bigrams"),
           sum(col("c") * col("lam")).as("w"))
      .withColumn("g", lit(0))
  }

  /** Per-source Gini + top-decile share over (source, doc_id, n_chars)
    * — see the q162 entry comment for the closed form and exactness
    * argument. Public so specs can plant extremal distributions.
    */
  def giniReport(docs: DataFrame): DataFrame =
    ScalableRank
      .withRanks(docs, Seq("source"),
        Seq(col("n_chars"), col("doc_id")),
        Seq(col("n_chars"), col("doc_id")), 32)
      .groupBy(col("source"))
      // rank·chars sums and the n·sx closed-form products reach ~n·sx
      // ≈ 1e25 at 100 TB (rank ~1e11 × per-source chars ~1e14) — far
      // past int64, well inside DECIMAL(38,0); the ppm/bp images stay
      // BIGINT (the q246b/q267b widening discipline)
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sx"),
        sum(col("rn").cast("decimal(38,0)") * col("n_chars")).as("s1"),
        sum(expr("CASE WHEN rn > ntot - ntot div 10 THEN n_chars ELSE 0 END")).as("topx"))
      .select(col("source"), col("n"), col("sx"),
        expr("CAST((1000000 * (2 * s1 - (CAST(n AS DECIMAL(38,0)) + 1) * sx))" +
          " div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)").as("gini_ppm"),
        expr("(10000 * topx) div sx").as("top_decile_bp"))

  /** Closed-form per-group OLS of y on x from one aggregation pass:
    * slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) and friends, every moment an
    * exact DECIMAL(38,0) integer. Emits fixed-point integers
    * (slope_e6, intercept_e2, r2_e6) via floor of deterministic double
    * ratios; degenerate groups (zero x-variance) emit NULLs.
    */
  def groupOls(feats: DataFrame, g: String, x: String, y: String): DataFrame =
    feats
      .select(col(g), col(x).cast("decimal(19,0)").as("__x"),
        col(y).cast("decimal(19,0)").as("__y"))
      .groupBy(col(g))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
      .select(col(g), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy").as("cov_lift"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx").as("varx_lift"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy").as("vary_lift"),
        col("sx"), col("sy"))
      .select(col(g), col("n"),
        expr("""CASE WHEN varx_lift = 0 THEN NULL
                ELSE CAST(floor(CAST(cov_lift AS DOUBLE) * 1000000
                     / CAST(varx_lift AS DOUBLE)) AS BIGINT) END""").as("slope_e6"),
        expr("""CASE WHEN varx_lift = 0 THEN NULL
                ELSE CAST(floor((CAST(sy AS DOUBLE) * CAST(varx_lift AS DOUBLE)
                       - CAST(cov_lift AS DOUBLE) * CAST(sx AS DOUBLE)) * 100
                     / (CAST(n AS DOUBLE) * CAST(varx_lift AS DOUBLE))) AS BIGINT) END""")
          .as("intercept_e2"),
        expr("""CASE WHEN varx_lift = 0 OR vary_lift = 0 THEN NULL
                ELSE CAST(floor(CAST(cov_lift AS DOUBLE) * CAST(cov_lift AS DOUBLE) * 1000000
                     / (CAST(varx_lift AS DOUBLE) * CAST(vary_lift AS DOUBLE))) AS BIGINT) END""")
          .as("r2_e6"))

  /** 2-D Pareto frontier, both objectives maximized: keep rows no other
    * row weakly dominates (x' >= x, y' >= y, one strict); exact (x,y)
    * duplicates dominate neither way and are all kept. Scale shape: the
    * raw relation is NEVER globally sorted — dominance collapses to the
    * per-x maxima relation (bounded by |distinct x|, e.g. token counts
    * ≤ max doc length at ANY corpus size), one single-partition running
    * max over those bounded rows (the deliberate empty-partition window,
    * DESIGN ground rule 4), then a BROADCAST join back: a row survives
    * iff y beats the best y at any strictly-greater x (strict, else that
    * row dominates) and ties its own x-group's max.
    */
  def paretoFrontier(feats: DataFrame, x: String, y: String): DataFrame = {
    val g = feats.groupBy(col(x)).agg(max(col(y)).as("__my"))
    val w = Window.orderBy(col(x).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val gm = g.withColumn("__m", max(col("__my")).over(w))
    feats.join(broadcast(gm), x)
      .filter((col("__m").isNull || col("__m") < col(y)) && col("__my") <= col(y))
      .drop("__my", "__m")
  }

  /** Positional phrase match by evidence aggregation (q143's engine).
    * Each token probes the broadcast (term, slot) table and emits the
    * phrase-start it would witness; a start witnessing all |phrase|
    * DISTINCT slots is a match (countDistinct, so a phrase with
    * repeated terms — where one token legitimately fans out to several
    * slots — still needs every slot filled, and overlapping matches
    * fall out naturally). Per-doc rollup: hit count + first position.
    */
  def phraseHits(s: SparkSession, docs: DataFrame, phrase: Seq[String]): DataFrame = {
    import s.implicits._
    val slots = broadcast(phrase.zipWithIndex.toDF("w", "i"))
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("w"))
    tok.join(slots, "w")
      .select(col("doc_id"), (col("p") - col("i")).as("st"), col("i"))
      .filter(col("st") >= 1)
      .groupBy(col("doc_id"), col("st"))
      .agg(countDistinct(col("i")).as("k"))
      .filter(col("k") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("st")).cast("long").as("first_p"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB 5-gram shingle CTE (distinct per doc), mirroring
    * TextSim.shingles(_, 5).
    */
  private val sh5 =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
      |  FROM (SELECT doc_id, string_split(text,' ') AS ws,
      |               unnest(generate_series(1, greatest(len(string_split(text,' ')) - 4, 0))) AS i
      |        FROM documents)
      |)""".stripMargin

  /** q87's decontamination oracle, which q142 shares: per non-bench
    * doc (id ≥ 20), its 5-gram shingles found in the bench docs
    * (id < 20) and how many bench docs they come from.
    */
  private val decontamOracle =
    s"""WITH $sh5
       |SELECT c.doc_id,
       |       count(DISTINCT c.g) AS n_hit_shingles,
       |       count(DISTINCT b.doc_id) AS n_bench_docs
       |FROM sh c JOIN sh b ON c.g = b.g AND b.doc_id < 20 AND c.doc_id >= 20
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** The hashed-feature oracle CTEs, the first `n` of: `dims` (each
    * word's md5 dimension mod 64), `c` (per-doc dimension counts),
    * `wt` (the fixed pseudo-random weights) and `lg` (per-doc logit).
    * q112 uses two, q121 three, q198 and q215 all four.
    */
  private def hashedCtes(n: Int): String = Seq(
    """dims AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 64 AS dim
      |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
      |)""".stripMargin,
    """c AS (
      |  SELECT doc_id, dim, count(*) AS c FROM dims GROUP BY 1, 2
      |)""".stripMargin,
    """wt AS (
      |  SELECT CAST(t.dim AS BIGINT) AS dim,
      |         (t.dim * 2654435761) % 1997 - 998 AS w
      |  FROM (SELECT unnest(generate_series(0, 63)) AS dim) t
      |)""".stripMargin,
    """lg AS (
      |  SELECT doc_id, CAST(sum(c.c * wt.w) AS BIGINT) AS logit
      |  FROM c JOIN wt USING (dim) GROUP BY doc_id
      |)""".stripMargin).take(n).mkString(", ")

  /** The sqrt-tempered mix oracle CTEs of q188 and q191: tokens per
    * source `c` and their weights ⌊√n_tok⌋ `w`.
    */
  private val sqrtMixCtes =
    """c AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
      |  FROM documents GROUP BY 1
      |), w AS (
      |  SELECT source, n_tok,
      |         CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS w
      |  FROM c
      |)""".stripMargin

  /** The KMV oracle CTEs of q186 and q187: distinct word 3-gram
    * shingles per source `sh`, their 40-bit md5 hashes `hs`, and the
    * hash rank within the source `rk`.
    */
  private val kmvCtes =
    """t AS (SELECT source, string_split(text,' ') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |  FROM (SELECT source, ws,
      |               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
      |        FROM t)
      |  WHERE len(ws) >= 3
      |), hs AS (
      |  SELECT DISTINCT source, CAST(('0x' || substr(md5(g),1,10)) AS BIGINT) AS h
      |  FROM sh
      |), rk AS (
      |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM hs
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q152_group_ols" ->
      """WITH cw AS (
        |  SELECT doc_id, source, w, count(*) AS cw
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT source, CAST(sum(cw) AS BIGINT) AS x,
        |         (10000 * count(*)) // CAST(sum(cw) AS BIGINT) AS y
        |  FROM cw GROUP BY doc_id, source
        |), m AS (
        |  SELECT source, count(*) AS n,
        |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM f GROUP BY source
        |), l AS (
        |  SELECT source, n,
        |         CAST(n AS HUGEINT) * sxy - sx * sy AS cov_lift,
        |         CAST(n AS HUGEINT) * sxx - sx * sx AS varx_lift,
        |         CAST(n AS HUGEINT) * syy - sy * sy AS vary_lift,
        |         sx, sy
        |  FROM m
        |)
        |SELECT source, n,
        |  CASE WHEN varx_lift = 0 THEN NULL
        |       ELSE CAST(floor(CAST(cov_lift AS DOUBLE) * 1000000
        |            / CAST(varx_lift AS DOUBLE)) AS BIGINT) END AS slope_e6,
        |  CASE WHEN varx_lift = 0 THEN NULL
        |       ELSE CAST(floor((CAST(sy AS DOUBLE) * CAST(varx_lift AS DOUBLE)
        |              - CAST(cov_lift AS DOUBLE) * CAST(sx AS DOUBLE)) * 100
        |            / (CAST(n AS DOUBLE) * CAST(varx_lift AS DOUBLE))) AS BIGINT) END AS intercept_e2,
        |  CASE WHEN varx_lift = 0 OR vary_lift = 0 THEN NULL
        |       ELSE CAST(floor(CAST(cov_lift AS DOUBLE) * CAST(cov_lift AS DOUBLE) * 1000000
        |            / (CAST(varx_lift AS DOUBLE) * CAST(vary_lift AS DOUBLE))) AS BIGINT) END AS r2_e6
        |FROM l ORDER BY source""".stripMargin,

    "q150_pareto_frontier" ->
      """WITH cw AS (
        |  SELECT doc_id, w, count(*) AS cw
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT doc_id, CAST(sum(cw) AS BIGINT) AS n_tok,
        |         (10000 * count(*)) // CAST(sum(cw) AS BIGINT) AS ttr_bp
        |  FROM cw GROUP BY doc_id
        |), g AS (
        |  SELECT n_tok, max(ttr_bp) AS my FROM f GROUP BY 1
        |), gm AS (
        |  SELECT n_tok, my,
        |         max(my) OVER (ORDER BY n_tok DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        |  FROM g
        |)
        |SELECT f.doc_id, f.n_tok, f.ttr_bp
        |FROM f JOIN gm ON f.n_tok = gm.n_tok
        |WHERE (gm.m IS NULL OR gm.m < f.ttr_bp) AND gm.my <= f.ttr_bp
        |ORDER BY f.n_tok, f.doc_id""".stripMargin,

    "q104_bpe_pair_stats" ->
      """WITH wc AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1
        |), p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, c
        |  FROM wc, unnest(generate_series(1, length(w)-1)) AS t(i)
        |  WHERE length(w) >= 2
        |)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS n_occ
        |FROM p GROUP BY pair ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin,

    "q110_boilerplate_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |), tok AS (
        |  SELECT doc_id, ws[p] AS w, p
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p FROM t)
        |), g AS (
        |  SELECT doc_id, i, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g3
        |  FROM (SELECT doc_id, ws,
        |               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        |        FROM t)
        |), f AS (
        |  SELECT g3 FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 4
        |), cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM (SELECT doc_id, unnest(generate_series(i, i + 2)) AS p
        |        FROM g JOIN f USING (g3))
        |), kept AS (
        |  SELECT tok.doc_id, count(*) AS n_kept,
        |         md5(string_agg(tok.w, ' ' ORDER BY tok.p)) AS kept_md5
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |  WHERE cov.p IS NULL
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tok,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.kept_md5, md5('')) AS kept_md5
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q112_feature_hashing" ->
      s"""WITH ${hashedCtes(2)}
        |SELECT doc_id, count(*) AS nnz,
        |       md5(string_agg(dim || ':' || c, ',' ORDER BY dim)) AS vec_md5
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q134_blocklist_filter" ->
      """WITH t AS (
        |  SELECT source, doc_id, unnest(string_split(text,' ')) AS w
        |  FROM documents
        |), h AS (
        |  SELECT source, doc_id,
        |         CAST(sum(CASE WHEN w IN ('slow', 'error', 'drop')
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM t GROUP BY 1, 2
        |)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_blocked,
        |       CAST(sum(n_hits) AS BIGINT) AS n_hits,
        |       (10000 * CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT))
        |         // count(*) AS blocked_bp
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    // q255_compression_gate: no SQL oracle (DEFLATE output length is
    // not SQL-expressible) — the driver records the rows-only check,
    // but the LOCAL gate replays it bit-exact: tools/check.py carries
    // a CPython-zlib oracle, justified by the measured byte-identity
    // of Deflater(6) and zlib.compress(·,6) on 124 cross-SF payloads
    // (DESIGN.md "q255 oracle"). Planted-corpus behavior additionally
    // pinned in CorpusOpsSpec.

    // The driver-green companion: every feature is exact integer
    // arithmetic over character n-grams, replayed verbatim (the
    // unnest(generate_series) shingle idiom; substr/substring are
    // both 1-based character-indexed). Thresholds match the Spark
    // side literally — calibration lives in the spec, not here.
    "q255b_compressibility_proxy" ->
      """WITH base AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |), g8 AS (
        |  SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS d8,
        |         CAST(count(*) AS BIGINT) AS t8
        |  FROM (SELECT doc_id, substr(text, p, 8) AS g
        |        FROM (SELECT doc_id, text,
        |                     unnest(generate_series(1, greatest(len - 7, 0))) AS p
        |              FROM base) WHERE len(text) >= 8)
        |  GROUP BY doc_id
        |), g2 AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS mx,
        |         CAST(sum(c) AS BIGINT) AS t2
        |  FROM (SELECT doc_id, substr(text, p, 2) AS bg, count(*) AS c
        |        FROM (SELECT doc_id, text,
        |                     unnest(generate_series(1, greatest(len - 1, 0))) AS p
        |              FROM base) WHERE len(text) >= 2
        |        GROUP BY 1, 2)
        |  GROUP BY doc_id
        |), m AS (
        |  SELECT b.doc_id, CAST(b.len AS BIGINT) AS n_chars,
        |         CAST(coalesce((10000 * g8.d8) // g8.t8, 10000) AS BIGINT) AS distinct8_bp,
        |         CAST(coalesce((10000 * g2.mx) // g2.t2, 10000) AS BIGINT) AS top_bigram_bp
        |  FROM base b LEFT JOIN g8 ON b.doc_id = g8.doc_id
        |              LEFT JOIN g2 ON b.doc_id = g2.doc_id
        |)
        |SELECT doc_id, n_chars, distinct8_bp, top_bigram_bp,
        |       CAST(CASE WHEN (distinct8_bp >= 9750 AND n_chars <= 70)
        |                   OR distinct8_bp < 1500 OR top_bigram_bp >= 3000
        |                 THEN 0 ELSE 1 END AS BIGINT) AS keep_proxy
        |FROM m ORDER BY doc_id""".stripMargin,

    "q253_snake_sharding" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), ranked AS (
        |  SELECT doc_id, n_tok,
        |         row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS r0
        |  FROM docs
        |), assigned AS (
        |  SELECT n_tok,
        |         CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8 ELSE 7 - (r0 % 8) END AS shard
        |  FROM ranked
        |), shards AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tok) AS BIGINT) AS tokens
        |  FROM assigned GROUP BY 1
        |), tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t FROM shards)
        |SELECT shard, n_docs, tokens,
        |       (10000 * tokens * 8) // t - 10000 AS dev_bp
        |FROM shards CROSS JOIN tot
        |ORDER BY shard""".stripMargin,

    "q236_ht_estimator" ->
      """WITH t AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS true_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS true_chars
        |  FROM documents GROUP BY 1
        |), s AS (
        |  SELECT lang, CAST(count(*) * 10 AS BIGINT) AS est_docs,
        |         CAST(sum(n_chars) * 10 AS BIGINT) AS est_chars
        |  FROM documents
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
        |  GROUP BY 1
        |)
        |SELECT t.lang, t.true_docs, t.true_chars,
        |       coalesce(s.est_docs, 0) AS est_docs,
        |       coalesce(s.est_chars, 0) AS est_chars,
        |       (1000000 * abs(coalesce(s.est_docs, 0) - t.true_docs)) // t.true_docs
        |         AS docs_err_ppm,
        |       CAST((1000000 * abs(CAST(coalesce(s.est_chars, 0) AS HUGEINT) - t.true_chars))
        |         // t.true_chars AS BIGINT) AS chars_err_ppm
        |FROM t LEFT JOIN s ON t.lang = s.lang
        |ORDER BY t.lang""".stripMargin,

    "q230_token_mi" ->
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, source, w
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |), dft AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY 1
        |), top AS (
        |  SELECT w, df FROM dft ORDER BY df DESC, w LIMIT 20
        |), dfst AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS df_s
        |  FROM dw JOIN top USING (w) GROUP BY 1, 2
        |), ns AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1
        |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |grid AS (
        |  SELECT ns.source, top.w, top.df, ns.n_s, nt.n,
        |         coalesce(dfst.df_s, 0) AS a
        |  FROM ns CROSS JOIN top CROSS JOIN nt
        |  LEFT JOIN dfst ON dfst.source = ns.source AND dfst.w = top.w
        |)
        |SELECT w, CAST(max(df) AS BIGINT) AS doc_freq,
        |       round(sum(
        |         CASE WHEN a > 0
        |              THEN (CAST(a AS DOUBLE) / n)
        |                   * ln((CAST(a AS DOUBLE) * n) / (n_s * df))
        |              ELSE 0 END
        |         + CASE WHEN n_s - a > 0
        |                THEN (CAST(n_s - a AS DOUBLE) / n)
        |                     * ln((CAST(n_s - a AS DOUBLE) * n) / (n_s * (n - df)))
        |                ELSE 0 END), 4) AS mi4
        |FROM grid GROUP BY 1 ORDER BY w""".stripMargin,

    "q129_source_kl" ->
      """WITH sw AS (
        |  SELECT source, w, count(*) AS c_sw
        |  FROM (SELECT source, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1, 2
        |), cw AS (
        |  SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1
        |), ns AS (
        |  SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1
        |), nt AS (
        |  SELECT CAST(sum(c_w) AS BIGINT) AS n FROM cw
        |)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tok,
        |       round(sum((CAST(c_sw AS DOUBLE) / n_s) *
        |                 (ln(CAST(c_sw AS DOUBLE) / c_w)
        |                  + ln(CAST(nt.n AS DOUBLE) / n_s))), 4) AS kl4
        |FROM sw JOIN cw USING (w) JOIN ns USING (source), nt
        |GROUP BY source ORDER BY source""".stripMargin,

    "q121_quality_classifier" ->
      s"""WITH ${hashedCtes(3)}
        |SELECT doc_id, count(*) AS nnz,
        |       CAST(sum(c.c * wt.w) AS BIGINT) AS logit,
        |       CASE WHEN sum(c.c * wt.w) >= 0 THEN 1 ELSE 0 END AS keep
        |FROM c JOIN wt USING (dim)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q198_calibration_bins" ->
      s"""WITH ${hashedCtes(4)}, sc AS (
        |  SELECT lg.doc_id, logit,
        |         CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS pos
        |  FROM lg JOIN documents d ON lg.doc_id = d.doc_id
        |), b AS (
        |  SELECT logit, pos,
        |         CAST(ntile(10) OVER (ORDER BY logit, doc_id) AS BIGINT) AS decile
        |  FROM sc
        |)
        |SELECT decile, count(*) AS n_docs, CAST(sum(pos) AS BIGINT) AS n_pos,
        |       (1000000 * CAST(sum(pos) AS BIGINT)) // count(*) AS pos_ppm,
        |       CAST(min(logit) AS BIGINT) AS lo_logit,
        |       CAST(max(logit) AS BIGINT) AS hi_logit
        |FROM b GROUP BY 1 ORDER BY decile""".stripMargin,

    "q203_ks_drift" ->
      """WITH docs AS (
        |  SELECT source, n_chars AS len FROM documents
        |), cnt AS (
        |  SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY 1, 2
        |), lens AS (SELECT DISTINCT len FROM docs),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
        |t AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM st),
        |grid AS (
        |  SELECT st.source, st.ns, lens.len, coalesce(cnt.c, 0) AS c
        |  FROM st CROSS JOIN lens
        |  LEFT JOIN cnt ON cnt.source = st.source AND cnt.len = lens.len
        |), sc AS (
        |  SELECT source, ns, len,
        |         CAST(sum(c) OVER (PARTITION BY source ORDER BY len
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS scum
        |  FROM grid
        |), g AS (SELECT len, CAST(sum(c) AS BIGINT) AS gc FROM cnt GROUP BY 1),
        |g2 AS (
        |  SELECT len, CAST(sum(gc) OVER (ORDER BY len
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gcum
        |  FROM g
        |), dd AS (
        |  SELECT sc.source, sc.ns, sc.len,
        |         abs((1000000 * scum) // ns - (1000000 * gcum) // n) AS d_ppm
        |  FROM sc JOIN g2 ON sc.len = g2.len CROSS JOIN t
        |), r AS (
        |  SELECT source, ns, len, d_ppm,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY d_ppm DESC, len) AS rn
        |  FROM dd
        |)
        |SELECT source, ns AS n_docs, d_ppm AS ks_ppm, len AS at_len
        |FROM r WHERE rn = 1 ORDER BY source""".stripMargin,

    "q210_length_outliers" ->
      """WITH docs AS (
        |  SELECT source, n_chars AS len FROM documents
        |), med AS (
        |  SELECT source, quantile_cont(len, 0.5) AS med FROM docs GROUP BY 1
        |), mad AS (
        |  SELECT d.source, quantile_cont(abs(d.len - m.med), 0.5) AS mad
        |  FROM docs d JOIN med m USING (source) GROUP BY 1
        |)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       max(m.med) AS med, max(a.mad) AS mad,
        |       CAST(sum(CASE WHEN abs(d.len - m.med) > 3 * a.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       (1000000 * CAST(sum(CASE WHEN abs(d.len - m.med) > 3 * a.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS outlier_ppm
        |FROM docs d JOIN med m USING (source) JOIN mad a USING (source)
        |GROUP BY 1 ORDER BY d.source""".stripMargin,

    "q214_shard_rebalance" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) AS h
        |  FROM documents
        |), bounds AS (
        |  SELECT i AS shard,
        |    CAST(('0x' || substr(md5('shard:' || CAST(i AS VARCHAR)), 1, 10)) AS BIGINT) AS b
        |  FROM (SELECT unnest(generate_series(0, 19)) AS i)
        |), a16 AS (
        |  SELECT doc_id, h,
        |    coalesce(min(CASE WHEN b >= h THEN b END), min(b)) AS b16
        |  FROM docs CROSS JOIN (SELECT b FROM bounds WHERE shard < 16)
        |  GROUP BY 1, 2
        |), a20 AS (
        |  SELECT doc_id,
        |    coalesce(min(CASE WHEN b >= h THEN b END), min(b)) AS b20
        |  FROM docs CROSS JOIN bounds
        |  GROUP BY 1
        |), mv AS (
        |  SELECT a16.doc_id,
        |    CASE WHEN b16 <> b20 THEN 1 ELSE 0 END AS mv_ring,
        |    CASE WHEN h % 16 <> h % 20 THEN 1 ELSE 0 END AS mv_mod
        |  FROM a16 JOIN a20 ON a16.doc_id = a20.doc_id
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(mv_ring) AS BIGINT) AS moved_ring,
        |       CAST(sum(mv_mod) AS BIGINT) AS moved_mod,
        |       (1000000 * CAST(sum(mv_ring) AS BIGINT)) // count(*) AS ring_ppm,
        |       (1000000 * CAST(sum(mv_mod) AS BIGINT)) // count(*) AS mod_ppm
        |FROM mv ORDER BY n_docs""".stripMargin,

    "q215_threshold_sweep" ->
      s"""WITH ${hashedCtes(4)}, j AS (
        |  SELECT lg.doc_id, logit,
        |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        |  FROM lg JOIN documents d ON lg.doc_id = d.doc_id
        |), r AS (
        |  SELECT logit, n_tok,
        |         CAST(row_number() OVER wd AS BIGINT) AS cum_docs,
        |         CAST(sum(n_tok) OVER (wd ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS BIGINT) AS cum_tok,
        |         CAST(ntile(10) OVER wd AS BIGINT) AS decile
        |  FROM j WINDOW wd AS (ORDER BY logit DESC, doc_id)
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS td, CAST(sum(n_tok) AS BIGINT) AS tt
        |  FROM j
        |)
        |SELECT decile, CAST(min(logit) AS BIGINT) AS thr_logit,
        |       max(cum_docs) AS cum_docs, max(cum_tok) AS cum_tokens,
        |       (1000000 * max(cum_docs)) // max(td) AS doc_share_ppm,
        |       CAST((1000000 * CAST(max(cum_tok) AS HUGEINT)) // max(tt) AS BIGINT)
        |         AS token_share_ppm
        |FROM r CROSS JOIN t
        |GROUP BY decile ORDER BY decile""".stripMargin,

    "q220_eval_quota_sample" ->
      """WITH h AS (
        |  SELECT lang, source, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM documents
        |), r AS (
        |  SELECT lang, source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang, source
        |      ORDER BY h, doc_id) AS BIGINT) AS pick
        |  FROM h
        |)
        |SELECT lang, source, pick, doc_id FROM r WHERE pick <= 3
        |ORDER BY lang, source, pick, doc_id""".stripMargin,

    "q125_curriculum_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |              AS BIGINT) AS src_rank
        |  FROM documents
        |)
        |SELECT CAST(row_number() OVER (ORDER BY src_rank, source) AS BIGINT) AS pos,
        |       doc_id, source, src_rank
        |FROM r ORDER BY pos""".stripMargin,

    "q122_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, ws[p] AS w, p, doc_id // 1000 AS blk
        |  FROM (SELECT doc_id, ws,
        |               unnest(generate_series(1, len(ws))) AS p
        |        FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents))
        |)
        |SELECT w, CAST(blk AS BIGINT) AS blk,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df_seg,
        |       count(*) AS cf_seg,
        |       md5(string_agg(doc_id || ':' || p, ',' ORDER BY doc_id, p)) AS postings_md5
        |FROM tok GROUP BY w, blk ORDER BY w, blk""".stripMargin,

    "q116_source_similarity" ->
      """WITH c AS (
        |  SELECT source, w, count(*) AS c
        |  FROM (SELECT source, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1, 2
        |), n AS (
        |  SELECT source, sum(CAST(c AS HUGEINT) * c) AS n2 FROM c GROUP BY 1
        |), p AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared,
        |         sum(CAST(a.c AS HUGEINT) * b.c) AS dot
        |  FROM c a JOIN c b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT p.s1, p.s2, p.n_shared, CAST(p.dot AS DOUBLE) AS dot,
        |       round(CAST(p.dot AS DOUBLE) /
        |             (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(n2.n2 AS DOUBLE))), 4) AS cos4
        |FROM p JOIN n n1 ON p.s1 = n1.source JOIN n n2 ON p.s2 = n2.source
        |ORDER BY p.s1, p.s2""".stripMargin,

    "q117_token_budget_select" ->
      """WITH w AS (
        |  SELECT doc_id, count(*) AS n_words, count(DISTINCT w) AS n_distinct
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1
        |), s AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_tok,
        |         CAST(floor(1000.0 * n_distinct / greatest(n_words, 1)) AS INT) AS score
        |  FROM w
        |), cm AS (
        |  SELECT doc_id, score, n_tok,
        |         CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM s
        |)
        |SELECT doc_id, score, n_tok, cum_tok FROM cm WHERE cum_tok <= 18000
        |ORDER BY score DESC, doc_id""".stripMargin,

    "q113_filter_funnel" ->
      """WITH w AS (
        |  SELECT doc_id, source, count(*) AS n_words,
        |         count(DISTINCT w) AS n_distinct, max(length(w)) AS max_wlen
        |  FROM (SELECT doc_id, source, unnest(string_split(text,' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2
        |), gates AS (
        |  SELECT source,
        |    CASE WHEN n_words < 30 THEN 1 ELSE 0 END AS f_short,
        |    CASE WHEN CAST(floor(1000.0 * n_distinct / greatest(n_words, 1)) AS INT)
        |         < 220 THEN 1 ELSE 0 END AS f_ttr,
        |    CASE WHEN max_wlen > 12 THEN 1 ELSE 0 END AS f_longword
        |  FROM w
        |)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(f_short) AS BIGINT) AS n_short,
        |       CAST(sum(f_ttr) AS BIGINT) AS n_low_ttr,
        |       CAST(sum(f_longword) AS BIGINT) AS n_longword,
        |       CAST(sum(CASE WHEN f_short + f_ttr + f_longword = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_pass
        |FROM gates GROUP BY source ORDER BY source""".stripMargin,

    "q191_mix_budget" ->
      s"""WITH $sqrtMixCtes, t AS (
        |  SELECT CAST(sum(n_tok) AS BIGINT) // 2 AS budget,
        |         CAST(sum(w) AS BIGINT) AS tot_w
        |  FROM w
        |), a AS (
        |  SELECT source, n_tok,
        |         (budget // 1000000) * ((1000000 * w) // tot_w)
        |         + ((budget % 1000000) * ((1000000 * w) // tot_w)) // 1000000 AS target_tok
        |  FROM w, t
        |)
        |SELECT source, n_tok, target_tok,
        |       (10000 * target_tok) // n_tok AS epochs_bp
        |FROM a ORDER BY source""".stripMargin,

    "q188_mix_weights" ->
      s"""WITH $sqrtMixCtes, t AS (
        |  SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
        |         CAST(sum(w) AS BIGINT) AS tot_w
        |  FROM w
        |)
        |SELECT source, n_tok,
        |       CAST((1000000 * CAST(n_tok AS HUGEINT)) // tot_tok AS BIGINT) AS raw_ppm,
        |       (1000000 * w) // tot_w AS alpha_ppm
        |FROM w, t ORDER BY source""".stripMargin,

    "q93_domain_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
        |), b AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) // 2 AS budget FROM c
        |), w AS (
        |  SELECT source, n_docs,
        |         CAST(CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1500
        |              WHEN 'src2' THEN 1000 ELSE 300 END AS BIGINT) AS w_bp
        |  FROM c
        |), r AS (
        |  SELECT source, n_docs, (w_bp * budget) // 10000 AS target_n,
        |         least(10000, (10000 * ((w_bp * budget) // 10000)) // n_docs) AS rate_bp
        |  FROM w, b
        |), k AS (
        |  SELECT source, doc_id,
        |         CAST(('0x' || substr(md5('mix:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |           % 10000 AS hk
        |  FROM documents
        |)
        |SELECT r.source, r.n_docs, r.target_n, r.rate_bp,
        |       CAST(sum(CASE WHEN k.hk < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(coalesce(sum(CASE WHEN k.hk < r.rate_bp THEN k.doc_id END), 0) AS BIGINT) AS kept_id_sum
        |FROM k JOIN r USING (source)
        |GROUP BY r.source, r.n_docs, r.target_n, r.rate_bp ORDER BY r.source""".stripMargin,

    "q94_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM (SELECT doc_id, string_split(text,' ') AS ws,
        |               unnest(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0))) AS i
        |        FROM documents)
        |), f AS (
        |  SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1
        |)
        |SELECT sh.doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       (10000 * CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT))
        |         // count(*) AS novelty_bp
        |FROM sh JOIN f USING (g)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,

    "q97_dup_span_coverage" ->
      """WITH pg AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM (SELECT doc_id, string_split(text,' ') AS ws,
        |               unnest(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0))) AS i
        |        FROM documents)
        |), f AS (
        |  SELECT g, count(DISTINCT doc_id) AS df FROM pg GROUP BY 1
        |)
        |SELECT pg.doc_id, count(*) AS n_pos,
        |       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pos,
        |       (10000 * CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT))
        |         // count(*) AS dup_bp
        |FROM pg JOIN f USING (g)
        |GROUP BY pg.doc_id ORDER BY pg.doc_id""".stripMargin,

    "q102_packed_shards" ->
      """WITH t AS (
        |  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text, n_tok,
        |         CAST(sum(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - n_tok AS start
        |  FROM t
        |)
        |SELECT CAST(floor(start / 256.0) AS BIGINT) AS shard_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tok_total,
        |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS packed_md5
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin,

    "q99_pmi_collocations" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |), pr AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(generate_series(1, len(ws)-1)) AS i FROM t)
        |), tok AS (
        |  SELECT unnest(ws) AS w FROM t
        |), c12 AS (
        |  SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY 1
        |), nb AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS nb FROM c12),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c1)
        |SELECT c12.w1, c12.w2, c12.n_pair,
        |       round(ln((c12.n_pair / nb.nb) /
        |             ((a.c / n.n) * (b.c / n.n))), 4) AS pmi
        |FROM c12
        |JOIN c1 a ON c12.w1 = a.w
        |JOIN c1 b ON c12.w2 = b.w
        |CROSS JOIN nb CROSS JOIN n
        |WHERE c12.n_pair >= 5
        |ORDER BY c12.n_pair DESC, c12.w1, c12.w2 LIMIT 30""".stripMargin,

    "q98_global_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hk
        |  FROM documents
        |)
        |SELECT doc_id, hk,
        |       CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS shuffle_pos
        |FROM h ORDER BY doc_id""".stripMargin,

    "q95_rag_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), c AS (
        |  SELECT doc_id, ws, unnest(generate_series(0, (len(ws)-1)//8)) AS chunk_id FROM t
        |)
        |SELECT doc_id, chunk_id, chunk_id*8 AS start_tok,
        |       least(16, len(ws) - chunk_id*8) AS n_chunk_tok,
        |       array_to_string(list_slice(ws, chunk_id*8+1, chunk_id*8+16), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q90_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |         CAST(sum(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - n_tok AS start
        |  FROM t
        |)
        |SELECT doc_id, n_tok,
        |       CAST(floor(start / 256.0) AS BIGINT) AS shard_id,
        |       CAST(start - CAST(floor(start / 256.0) AS BIGINT) * 256 AS BIGINT) AS shard_off
        |FROM c ORDER BY doc_id""".stripMargin,

    "q82_winnow_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM (SELECT doc_id, string_split(text,' ') AS ws,
        |               unnest(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0))) AS i
        |        FROM documents)
        |), h AS (
        |  SELECT doc_id, pos, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h FROM g
        |), m AS (
        |  SELECT doc_id, pos,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |         count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM h
        |)
        |SELECT DISTINCT doc_id, wmin AS fp FROM m WHERE pos <= ng - 4
        |ORDER BY doc_id, fp""".stripMargin,

    "q83_token_classes" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_alpha,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num,
        | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INT) AS n_other,
        | CAST(floor(1000.0 * len(regexp_extract_all(text, '[A-Za-z]+'))
        |      / greatest(len(regexp_extract_all(text, '[A-Za-z]+'))
        |               + len(regexp_extract_all(text, '[0-9]+'))
        |               + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')), 1)) AS INT)
        |   AS alpha_permille
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q84_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.w,
        |         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, w, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
        |  FROM s
        |)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, w, round(score, 4) AS tfidf
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q86_hash_split" ->
      """WITH b AS (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents
        |)
        |SELECT lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "q59_fulltext_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
        |), st AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM tok
        |  WHERE w IN ('hash', 'join', 'merge') GROUP BY 1, 2
        |), df AS (
        |  SELECT w, count(*) AS df FROM tf GROUP BY 1
        |)
        |SELECT tf.doc_id,
        |  round(sum(ln(1.0 + CAST(st.n_docs - df.df + 0.5 AS DOUBLE)
        |                    / CAST(df.df + 0.5 AS DOUBLE))
        |            * tf.tf * CAST(2.2 AS DOUBLE)
        |            / (tf.tf + CAST(1.2 AS DOUBLE)
        |               * (CAST(0.25 AS DOUBLE)
        |                  + CAST(0.75 AS DOUBLE) * dl.dl / st.avgdl))), 4) AS bm25,
        |  count(*) AS n_terms_hit
        |FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN st
        |GROUP BY tf.doc_id
        |ORDER BY bm25 DESC, tf.doc_id LIMIT 20""".stripMargin,

    "q89_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hk
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h
        |)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 10
        |ORDER BY lang, rn""".stripMargin,

    // Same lottery tickets, same md5 permutation, same integer
    // arithmetic — the weighted reservoir replays exactly.
    "q137_weighted_sample" ->
      """WITH wt AS (
        |  SELECT source, doc_id,
        |         1 + least(4, len(string_split(text,' ')) // 50) AS w
        |  FROM documents
        |), tk AS (
        |  SELECT source, doc_id, w,
        |         min(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |                                      CAST(i AS VARCHAR)), 1, 15))
        |                  AS BIGINT)) AS tkt
        |  FROM (SELECT source, doc_id, w, unnest(generate_series(1, w)) AS i
        |        FROM wt)
        |  GROUP BY 1, 2, 3
        |), r AS (
        |  SELECT source, doc_id, w, tkt,
        |         row_number() OVER (PARTITION BY source ORDER BY tkt, doc_id) AS rn
        |  FROM tk
        |)
        |SELECT source, rn, doc_id, w, tkt FROM r WHERE rn <= 25
        |ORDER BY source, rn""".stripMargin,

    "q88_repetition_filter" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
        |), ws AS (
        |  SELECT doc_id, count(*) AS n_words, count(DISTINCT w) AS n_distinct
        |  FROM w GROUP BY 1
        |), bg AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        |  FROM (SELECT doc_id, string_split(text,' ') AS ws,
        |               unnest(generate_series(1, greatest(len(string_split(text,' ')) - 1, 0))) AS i
        |        FROM documents)
        |), bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2
        |), bs AS (
        |  SELECT doc_id, max(c) AS max_bg, sum(c) AS n_bg FROM bc GROUP BY 1
        |)
        |SELECT ws.doc_id, CAST(ws.n_words AS BIGINT) AS n_words,
        |  CAST(floor(1000.0 * (ws.n_words - ws.n_distinct) / ws.n_words) AS INT)
        |    AS dup_word_permille,
        |  CAST(coalesce(floor(1000.0 * bs.max_bg / bs.n_bg), 0) AS INT)
        |    AS top_bigram_permille,
        |  CAST(CASE WHEN floor(1000.0 * (ws.n_words - ws.n_distinct) / ws.n_words) < 900
        |             AND coalesce(floor(1000.0 * bs.max_bg / bs.n_bg), 0) < 180
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
        |ORDER BY ws.doc_id""".stripMargin,

    "q87_decontaminate" -> decontamOracle,

    // The bloom tier is exact after its verify join, so it shares
    // decontamOracle with q87 (the q62/q138 oracle-sharing argument).
    "q142_decontaminate_bloom" -> decontamOracle,

    // Heavy hitters are exact post-verify: the sketch path is invisible
    // to the oracle, which states the definition directly.
    "q141_heavy_hitters" ->
      """WITH t AS (SELECT string_split(text,' ') AS ws FROM documents),
        |g AS (
        |  SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM (SELECT ws, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        |        FROM t)
        |  WHERE len(ws) >= 3
        |), c AS (
        |  SELECT g, count(*) AS n FROM g GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS s FROM c
        |)
        |SELECT g, n, (10000 * n) // s AS share_bp
        |FROM c, tot WHERE n * 5000 >= s ORDER BY g""".stripMargin,

    "q119_eval_overlap_report" ->
      s"""WITH $sh5,
         |t AS (
         |  SELECT doc_id AS bench_id, count(*) AS n_sh FROM sh
         |  WHERE doc_id < 20 GROUP BY 1
         |), h AS (
         |  SELECT DISTINCT b.doc_id AS bench_id, b.g
         |  FROM sh b JOIN sh c ON b.g = c.g AND b.doc_id < 20 AND c.doc_id >= 20
         |), hc AS (
         |  SELECT bench_id, count(*) AS n_hit FROM h GROUP BY 1
         |)
         |SELECT t.bench_id, t.n_sh,
         |       CAST(coalesce(hc.n_hit, 0) AS BIGINT) AS n_hit,
         |       (10000 * CAST(coalesce(hc.n_hit, 0) AS BIGINT)) // t.n_sh AS contam_bp
         |FROM t LEFT JOIN hc USING (bench_id) ORDER BY bench_id""".stripMargin,

    "q143_phrase_search" ->
      """WITH tok AS (
        |  SELECT doc_id, p, ws[p] AS w
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
        |        FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents))
        |), slot AS (
        |  SELECT * FROM (VALUES ('slow', 0), ('hash', 1), ('batch', 2)) AS t(w, i)
        |), ev AS (
        |  SELECT tok.doc_id, tok.p - slot.i AS st, slot.i
        |  FROM tok JOIN slot USING (w)
        |  WHERE tok.p - slot.i >= 1
        |), m AS (
        |  SELECT doc_id, st FROM ev GROUP BY doc_id, st
        |  HAVING count(DISTINCT i) = 3
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |       CAST(min(st) AS BIGINT) AS first_p
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q162_gini_concentration" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS ntot
        |  FROM documents
        |), g AS (
        |  SELECT source, count(*) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS sx,
        |         sum(CAST(rn AS HUGEINT) * n_chars) AS s1,
        |         CAST(sum(CASE WHEN rn > ntot - ntot // 10 THEN n_chars ELSE 0 END) AS BIGINT) AS topx
        |  FROM r GROUP BY 1
        |)
        |SELECT source, CAST(n AS BIGINT) AS n, sx,
        |       CAST((1000000 * (2 * s1 - (CAST(n AS HUGEINT) + 1) * sx))
        |         // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_ppm,
        |       (10000 * topx) // sx AS top_decile_bp
        |FROM g ORDER BY source""".stripMargin,

    "q165_quantile_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rs,
        |         count(*) OVER (PARTITION BY source) AS ns
        |  FROM documents
        |), g AS (
        |  SELECT n_chars AS norm_chars,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS rg
        |  FROM documents
        |), n AS (SELECT count(*) AS nn FROM documents)
        |SELECT r.doc_id, r.source, r.n_chars, g.norm_chars
        |FROM r CROSS JOIN n
        |JOIN g ON g.rg = ((2 * r.rs - 1) * n.nn + r.ns) // (2 * r.ns)
        |ORDER BY doc_id""".stripMargin,

    "q170_winsorize" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS ntot
        |  FROM documents
        |), b AS (
        |  SELECT source,
        |         max(CASE WHEN rn = greatest(1, (5 * ntot) // 100) THEN n_chars END) AS lo,
        |         max(CASE WHEN rn = greatest(1, (95 * ntot) // 100) THEN n_chars END) AS hi
        |  FROM r GROUP BY 1
        |)
        |SELECT r.source, count(*) AS n,
        |       CAST(max(b.lo) AS BIGINT) AS lo, CAST(max(b.hi) AS BIGINT) AS hi,
        |       CAST(sum(CASE WHEN r.n_chars < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |       CAST(sum(CASE WHEN r.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |       CAST(sum(least(greatest(r.n_chars, b.lo), b.hi)) AS BIGINT) AS sum_winsorized
        |FROM r JOIN b USING (source)
        |GROUP BY r.source
        |ORDER BY source""".stripMargin,

    "q180_topk_others" ->
      """WITH wc AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        |), c AS (
        |  SELECT source, w, count(*) AS n FROM wc GROUP BY 1, 2
        |), r AS (
        |  SELECT source, w, n,
        |         row_number() OVER (PARTITION BY source ORDER BY n DESC, w) AS rn
        |  FROM c
        |), lab AS (
        |  SELECT source, CASE WHEN rn <= 3 THEN w ELSE 'OTHER' END AS label, n FROM r
        |)
        |SELECT source, label, CAST(sum(n) AS BIGINT) AS n_tok, count(*) AS n_words
        |FROM lab GROUP BY 1, 2
        |ORDER BY source, n_tok DESC, label""".stripMargin,

    "q186_kmv_distinct" ->
      s"""WITH $kmvCtes, sk AS (
        |  SELECT source, count(*) AS n_sk, max(h) AS hk
        |  FROM rk WHERE rn <= 128 GROUP BY 1
        |), ex AS (
        |  SELECT source, count(*) AS n_exact FROM sh GROUP BY 1
        |), es AS (
        |  SELECT ex.source, ex.n_exact,
        |         CAST(CASE WHEN sk.n_sk >= 128 THEN 139637976727552 // sk.hk
        |              ELSE sk.n_sk END AS BIGINT) AS est_kmv
        |  FROM ex JOIN sk ON ex.source = sk.source
        |)
        |SELECT source, n_exact, est_kmv,
        |       CAST(abs(est_kmv - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
        |FROM es ORDER BY source""".stripMargin,

    "q187_kmv_overlap" ->
      s"""WITH $kmvCtes, sk AS (SELECT source, h FROM rk WHERE rn <= 128),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2
        |  FROM srcs a JOIN srcs b ON a.source < b.source
        |), m AS (
        |  SELECT s1, s2, h, max(ia) AS ia, max(ib) AS ib FROM (
        |    SELECT p.s1, p.s2, k.h, 1 AS ia, 0 AS ib
        |    FROM pairs p JOIN sk k ON k.source = p.s1
        |    UNION ALL
        |    SELECT p.s1, p.s2, k.h, 0 AS ia, 1 AS ib
        |    FROM pairs p JOIN sk k ON k.source = p.s2
        |  ) GROUP BY 1, 2, 3
        |), mr AS (
        |  SELECT s1, s2, h, ia, ib,
        |         row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
        |  FROM m
        |), es AS (
        |  SELECT s1, s2, count(*) AS kk, max(h) AS hk,
        |         CAST(sum(ia * ib) AS BIGINT) AS nboth
        |  FROM mr WHERE rn <= 128 GROUP BY 1, 2
        |), sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |iv AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS ni
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT es.s1, es.s2,
        |       CAST(es.nboth * 10000 // es.kk AS BIGINT) AS est_j_bp,
        |       CAST(CASE WHEN es.kk >= 128
        |            THEN es.nboth * (139637976727552 // es.hk) // es.kk
        |            ELSE es.nboth END AS BIGINT) AS est_inter,
        |       CAST(coalesce(iv.ni, 0) AS BIGINT) AS n_inter,
        |       CAST(coalesce(iv.ni, 0) * 10000
        |            // (z1.n + z2.n - coalesce(iv.ni, 0)) AS BIGINT) AS exact_j_bp
        |FROM es
        |LEFT JOIN iv ON es.s1 = iv.s1 AND es.s2 = iv.s2
        |JOIN sz z1 ON es.s1 = z1.source
        |JOIN sz z2 ON es.s2 = z2.source
        |ORDER BY es.s1, es.s2""".stripMargin,

    // The identical smoothing/feature algebra replayed verbatim: same
    // md5-bucket coin, same add-one λ ratio, and the per-doc sum runs
    // over the SAME (doc, b) pre-aggregated relation Spark reduces
    // (sum of c·λ_b, not per-occurrence) so the two engines differ
    // only in float association order — CorpusOpsSpec's boundary
    // audit shows every rounded digit and the rank-25 selection edge
    // sit far from any flip boundary.
    "q270_dsir_weights" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS w,
         |         generate_subscripts(string_split(text,' '),1) AS i
         |  FROM documents
         |), f AS (
         |  SELECT a.doc_id, a.lang,
         |         CAST(('0x' || substr(md5(a.w || ' ' || b.w), 1, 8)) AS BIGINT)
         |           % $DSIR_B AS b
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |), r AS (SELECT b, count(*) AS r FROM f GROUP BY 1),
         |t AS (SELECT b, count(*) AS t FROM f WHERE lang = 'en' GROUP BY 1),
         |tot AS (
         |  SELECT count(*) AS rt,
         |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
         |  FROM f
         |), lam AS (
         |  SELECT r.b,
         |         ln(CAST(coalesce(t.t, 0) + 1 AS DOUBLE) / (tot.tt + $DSIR_B)) -
         |         ln(CAST(r.r + 1 AS DOUBLE) / (tot.rt + $DSIR_B)) AS lam
         |  FROM r LEFT JOIN t USING (b) CROSS JOIN tot
         |), pdc AS (
         |  SELECT doc_id, lang, b, count(*) AS c FROM f GROUP BY 1, 2, 3
         |), pd AS (
         |  SELECT p.doc_id, p.lang, CAST(sum(p.c) AS BIGINT) AS n_bigrams,
         |         sum(p.c * lam.lam) AS w
         |  FROM pdc p JOIN lam USING (b) GROUP BY 1, 2
         |), rk AS (
         |  SELECT doc_id, lang, n_bigrams, w,
         |         row_number() OVER (ORDER BY w DESC, doc_id) AS rn
         |  FROM pd
         |)
         |SELECT doc_id, lang, n_bigrams, round(w, 4) AS dsir_logw_4,
         |       CASE WHEN rn <= $DSIR_SEL THEN 1 ELSE 0 END AS selected
         |FROM rk ORDER BY doc_id""".stripMargin,

    // The trainer replayed verbatim: same feature coin, same
    // normalized x, all LR_ITERS batch-GD iterations unrolled (w and
    // feats MATERIALIZED — multiply referenced). Per-doc score sums
    // and per-bucket gradient sums associate differently across
    // engines; the measured <3e-14 drift headroom (see the q273
    // entry) and CorpusOpsSpec's boundary audit cover the round-4
    // digits.
    "q273_quality_lr" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS w,
         |         generate_subscripts(string_split(text,' '),1) AS i
         |  FROM documents
         |), fb AS (
         |  SELECT a.doc_id, a.lang,
         |         CAST(('0x' || substr(md5(a.w || ' ' || b.w), 1, 8)) AS BIGINT)
         |           % $DSIR_B AS b
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |), nd AS (SELECT doc_id, count(*) AS n FROM fb GROUP BY 1),
         |feats AS MATERIALIZED (
         |  SELECT fb.doc_id, fb.lang, fb.b,
         |         CAST(count(*) AS DOUBLE) / any_value(nd.n) AS x
         |  FROM fb JOIN nd USING (doc_id) GROUP BY fb.doc_id, fb.lang, fb.b
         |  UNION ALL SELECT doc_id, lang, -1, 1.0 FROM documents
         |),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |w0 AS (SELECT DISTINCT b, CAST(0 AS DOUBLE) AS w FROM feats),
         |$lrIterSql,
         |sfin AS (
         |  SELECT f.doc_id, f.lang, sum(f.x * w.w) AS s
         |  FROM feats f JOIN w$LR_ITERS w USING (b) GROUP BY 1, 2
         |)
         |SELECT doc_id, lang, round(s, 4) AS lr_score_4
         |FROM sfin ORDER BY doc_id""".stripMargin,

    // The full merge loop replayed: per-step pair argmax (same total
    // order) + the greedy-leftmost rewrite as a list_reduce fold over
    // singleton-wrapped symbols. DuckDB slice bounds are INCLUSIVE:
    // acc[:-2] drops the last element (acc[:-1] would keep it). All
    // arithmetic is exact integers + strings — no float anywhere.
    "q274_bpe_trainer" ->
      s"""WITH $bpeChainSql
         |SELECT step, pa AS merge_left, pb AS merge_right, n_occ
         |FROM (${(1 to BPE_T).map(t => s"SELECT * FROM bp$t").mkString(" UNION ALL ")})
         |ORDER BY step""".stripMargin,

    // BM25 replayed with the identical association order in the score
    // expression (the only cross-engine float risk is ln — round-4
    // output plus the spec's rank-margin audit cover it; the 2-addend
    // per-(qid,doc) sum is order-proof because IEEE addition is
    // commutative).
    "q275_bm25_topk" ->
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, w
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''
         |), tf AS MATERIALIZED (
         |  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
         |), sc AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_docs,
         |         CAST((SELECT count(*) FROM tok) AS DOUBLE) /
         |           (SELECT count(*) FROM documents) AS avgdl
         |), dft AS (
         |  SELECT w, count(*) AS dfw FROM tf GROUP BY 1
         |), qx AS (
         |  SELECT CAST((rk6 - 1) % 3 + 1 AS INT) AS qid, w,
         |         ln(1 + (n_docs - dfw + CAST(0.5 AS DOUBLE)) /
         |                (dfw + CAST(0.5 AS DOUBLE))) AS idf,
         |         avgdl
         |  FROM (SELECT w, dfw, row_number() OVER (ORDER BY dfw DESC, w) AS rk6
         |        FROM dft ORDER BY dfw DESC, w LIMIT 6)
         |  CROSS JOIN sc
         |), co AS (
         |  SELECT q.qid, t.doc_id,
         |         q.idf * (t.tf * CAST(2.2 AS DOUBLE)) /
         |         (t.tf + CAST(1.2 AS DOUBLE) *
         |          (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * d.dl / q.avgdl))
         |           AS contrib
         |  FROM tf t JOIN qx q USING (w) JOIN dl d USING (doc_id)
         |), sco AS (
         |  SELECT qid, doc_id, sum(contrib) AS score,
         |         CAST(count(*) AS BIGINT) AS n_hit
         |  FROM co GROUP BY 1, 2
         |), rkd AS (
         |  SELECT qid, doc_id, score, n_hit,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
         |  FROM sco
         |)
         |SELECT qid, rk, doc_id, round(score, 4) AS bm25_4, n_hit
         |FROM rkd WHERE rk <= $BM25_K ORDER BY qid, rk""".stripMargin,

    // Both unigram models replayed; the gate is the exact integer
    // cross-product compare and the excess ships 2^20-quantized per
    // word (floor boundary margins audited in CorpusOpsSpec) so every
    // per-doc aggregate is an order-proof integer sum — no float avg
    // crosses the engine boundary.
    "q285_rho1_tokens" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, w
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> ''
        |), ca AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY 1
        |), ce AS (
        |  SELECT w, count(*) AS ce FROM tok WHERE lang = 'en' GROUP BY 1
        |), sc AS (
        |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ca) AS t,
        |         (SELECT count(*) FROM ca) AS v,
        |         (SELECT CAST(sum(ce) AS BIGINT) FROM ce) AS te
        |), sw AS (
        |  SELECT ca.w,
        |         CASE WHEN CAST(coalesce(ce.ce, 0) + 1 AS HUGEINT) * (sc.t + sc.v) >
        |                   CAST(ca.c + 1 AS HUGEINT) * (sc.te + sc.v)
        |              THEN 1 ELSE 0 END AS selw,
        |         CAST(floor((
        |           ln(CAST(coalesce(ce.ce, 0) + 1 AS DOUBLE) / (sc.te + sc.v)) -
        |           ln(CAST(ca.c + 1 AS DOUBLE) / (sc.t + sc.v))
        |         ) * 1048576) AS BIGINT) AS qx
        |  FROM ca LEFT JOIN ce USING (w) CROSS JOIN sc
        |), per AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |         CAST(sum(s.selw) AS BIGINT) AS n_sel,
        |         CAST(sum(s.qx) AS BIGINT) AS excess_q20
        |  FROM tok t JOIN sw s USING (w) GROUP BY 1
        |)
        |SELECT doc_id, n_tok, n_sel,
        |       CAST((10000 * n_sel) // n_tok AS BIGINT) AS sel_bp,
        |       excess_q20
        |FROM per ORDER BY doc_id""".stripMargin,

    // The waterfilling closed form replayed: ascending rank, running
    // sums, the first-overflow boundary, the +1 remainder rule.
    "q282_unimax_alloc" ->
      """WITH tok AS (
        |  SELECT lang, w
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |), cnt AS (
        |  SELECT lang, count(*) AS n FROM tok GROUP BY 1
        |), tt AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS totn, count(*) AS nl FROM cnt
        |), base AS MATERIALIZED (
        |  SELECT lang, n,
        |         row_number() OVER (ORDER BY n, lang) AS p,
        |         sum(n) OVER (ORDER BY n, lang
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         totn // 2 AS budget, nl
        |  FROM cnt CROSS JOIN tt
        |), bs AS MATERIALIZED (
        |  SELECT pstar, tstar, budget - cumb - tstar * (nl - pstar + 1) AS r
        |  FROM (SELECT p AS pstar, (budget - (cum - n)) // (nl - p + 1) AS tstar,
        |               cum - n AS cumb, budget, nl,
        |               row_number() OVER (ORDER BY p) AS rn1
        |        FROM base WHERE n > (budget - (cum - n)) // (nl - p + 1))
        |  WHERE rn1 = 1
        |)
        |SELECT lang, CAST(n AS BIGINT) AS n_tok,
        |       CAST(CASE WHEN p < pstar THEN n
        |            ELSE tstar + (CASE WHEN p - pstar < r THEN 1 ELSE 0 END)
        |            END AS BIGINT) AS alloc,
        |       CAST((10000 * (CASE WHEN p < pstar THEN n
        |                      ELSE tstar + (CASE WHEN p - pstar < r THEN 1 ELSE 0 END)
        |                      END)) // n AS BIGINT) AS used_bp
        |FROM base CROSS JOIN bs ORDER BY lang""".stripMargin,

    // q274's chain, read out as the per-step corpus token sums.
    "q278_bpe_curve" ->
      s"""WITH $bpeChainSql
         |SELECT step, corpus_tokens FROM (${(0 to BPE_T).map(t =>
              s"SELECT $t AS step, CAST(sum(c * len(syms)) AS BIGINT) AS corpus_tokens FROM bv$t")
              .mkString(" UNION ALL ")})
         |ORDER BY step""".stripMargin,

    // The unigram-LM hard-EM chain replayed: seed substring counts,
    // the char+topS piece inventory per step, the Viterbi DP as
    // unrolled position CTEs (max over ≤UNI_PL arms per position),
    // the longest-piece backtrack (row_number over start position,
    // exact in-engine double equality against the DP's own max), and
    // the usage recount. Published counts are exact integers.
    "q291_unigram_lm_trainer" ->
      s"""WITH $uniChainSql
         |SELECT em_step, piece, cnt FROM (
         |${(0 to UNI_T).map(t =>
             s"SELECT CAST($t AS BIGINT) AS em_step, p AS piece, " +
             s"CAST(cnt AS BIGINT) AS cnt FROM up$t").mkString("\n  UNION ALL ")}
         |) ORDER BY em_step, piece""".stripMargin,

    // q291's chain, read out as per-step corpus token sums (each
    // u{t}seg row is one emitted piece for one vocabulary word, so
    // the weighted row count IS the token count).
    "q292_unigram_curve" ->
      s"""WITH $uniChainSql
         |SELECT step, corpus_tokens FROM (
         |  SELECT CAST(0 AS BIGINT) AS step,
         |         CAST(sum(c * len) AS BIGINT) AS corpus_tokens FROM uw
         |${(1 to UNI_T).map(t =>
             s"  UNION ALL SELECT CAST($t AS BIGINT), CAST(sum(c) AS BIGINT) " +
             s"FROM u${t}seg JOIN uw USING (w)").mkString("\n")}
         |) ORDER BY step""".stripMargin,

    // The soft-EM chain replayed (see [[uniSoftChainSql]] for the
    // bit-identical-expression-tree argument): seed, per-step raw
    // probabilities, the unrolled forward/backward DP, the quantized
    // occurrence terms, the exact-integer usage recount + pruning.
    "q296_unigram_soft_em" ->
      s"""WITH $uniSoftChainSql
         |SELECT em_step, piece, cnt_q20 FROM (
         |${(0 to UNI_T).map(t =>
             s"SELECT CAST($t AS BIGINT) AS em_step, p AS piece, " +
             s"CAST(cnt AS BIGINT) AS cnt_q20 FROM usp$t").mkString("\n  UNION ALL ")}
         |) ORDER BY em_step, piece""".stripMargin,

    // The prune chain replayed: per round, every evaluated multi-char
    // piece with its recounted usage, its leave-one-out loss, and the
    // loss-ranked keep decision.
    "q301_unigram_prune_loop" ->
      s"""WITH $uniPruneChainSql
         |SELECT round, piece, cnt_q20, loss_q20, kept FROM (
         |${uniPruneKeeps.indices.map { r0 =>
             val t = r0 + 1
             s"SELECT CAST($t AS BIGINT) AS round, m.p AS piece, " +
             s"CAST(m.cnt AS BIGINT) AS cnt_q20, " +
             s"CAST(m.loss AS BIGINT) AS loss_q20, " +
             s"CAST(CASE WHEN k.p IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS kept " +
             s"FROM u${t}mu m LEFT JOIN u${t}keep k USING (p)"
           }.mkString("\n  UNION ALL ")}
         |) ORDER BY round, piece""".stripMargin,

    // The soft chain read out as per-step expected-token sums (step 0
    // = the exact single-char baseline; steps 1+ = the exact-integer
    // sum of the quantized occurrence posteriors).
    "q297_unigram_soft_curve" ->
      s"""WITH $uniSoftChainSql
         |SELECT step, exp_tokens_q20 FROM (
         |  SELECT CAST(0 AS BIGINT) AS step,
         |         CAST(sum(CAST(c AS HUGEINT) * len) * $UNI_Q AS BIGINT)
         |           AS exp_tokens_q20 FROM uw
         |${(1 to UNI_T).map(t =>
             s"  UNION ALL SELECT CAST($t AS BIGINT), CAST(sum(tq) AS BIGINT) " +
             s"FROM u${t}tm").mkString("\n")}
         |) ORDER BY step""".stripMargin
  )

  /** The q291/q292 unigram-LM chain as SQL: word vocab, seed
    * substring counts, then per EM step the piece inventory
    * (chars at usage+1 ∪ top-UNI_S multi), the log-prob table, the
    * Viterbi DP unrolled over UNI_MAXLEN positions (≤UNI_PL arms per
    * position — an absent piece is simply a missing join row, and the
    * l=1 arm always exists because chars are always kept, so the max
    * equals the Spark fold's sentinel-guarded array_max exactly), the
    * longest-piece backtrack (smallest start via row_number; the
    * equality predicate recomputes the winning arm's own sum, exact
    * in-engine), and the usage recount. Every multiply-referenced CTE
    * is MATERIALIZED (the CTE-inlining discipline).
    */
  private lazy val uniChainSql: String = {
    def pieceStep(t: Int, cntRel: String): String =
      s"""${uniAdjustSql(s"up$t", cntRel, 1L)}, ulp$t AS MATERIALIZED (
         |  SELECT p, ln(CAST(cnt AS DOUBLE)) -
         |            ln((SELECT CAST(sum(cnt) AS DOUBLE) FROM up$t)) AS lp
         |  FROM up$t
         |)""".stripMargin
    def emStep(t: Int): String = {
      val lp = s"ulp${t - 1}"
      val dj = (1 to UNI_MAXLEN).map { j =>
        val arms = (1 to math.min(UNI_PL, j)).map { l =>
          s"""    SELECT d.w AS w, d.b + q.lp AS v
             |    FROM u${t}d${j - l} d JOIN uw ON uw.w = d.w AND uw.len >= $j
             |    JOIN $lp q ON q.p = substr(d.w, ${j - l + 1}, $l)""".stripMargin
        }
        s"""u${t}d$j AS MATERIALIZED (
           |  SELECT w, max(v) AS b FROM (
           |${arms.mkString("\n    UNION ALL\n")}
           |  ) GROUP BY w
           |)""".stripMargin
      }.mkString(",\n")
      val dpUnion = (0 to UNI_MAXLEN)
        .map(j => s"SELECT w, $j AS j, b FROM u${t}d$j")
        .mkString("\n  UNION ALL ")
      val bts = (1 to UNI_MAXLEN).map { k =>
        s"""u${t}b$k AS MATERIALIZED (
           |  SELECT w, pos - length(piece) AS pos, piece FROM (
           |    SELECT b.w AS w, b.pos AS pos,
           |           substr(b.w, CAST(s.s AS INT), CAST(b.pos - s.s + 1 AS INT)) AS piece,
           |           row_number() OVER (PARTITION BY b.w ORDER BY s.s) AS rn
           |    FROM u${t}b${k - 1} b
           |    JOIN generate_series(1, $UNI_MAXLEN) s(s)
           |      ON s.s >= greatest(1, b.pos - ${UNI_PL - 1}) AND s.s <= b.pos
           |    JOIN $lp q
           |      ON q.p = substr(b.w, CAST(s.s AS INT), CAST(b.pos - s.s + 1 AS INT))
           |    JOIN u${t}dp d1 ON d1.w = b.w AND d1.j = s.s - 1
           |    JOIN u${t}dp d2 ON d2.w = b.w AND d2.j = b.pos
           |    WHERE b.pos > 0 AND d1.b + q.lp = d2.b
           |  ) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      val segUnion = (1 to UNI_MAXLEN)
        .map(k => s"SELECT w, piece FROM u${t}b$k")
        .mkString("\n  UNION ALL ")
      s"""u${t}d0 AS (SELECT w, CAST(0.0 AS DOUBLE) AS b FROM uw),
         |$dj,
         |u${t}dp AS MATERIALIZED (
         |  $dpUnion
         |),
         |u${t}b0 AS (SELECT w, len AS pos FROM uw),
         |$bts,
         |u${t}seg AS MATERIALIZED (
         |  $segUnion
         |),
         |u${t}n AS MATERIALIZED (
         |  SELECT piece AS p, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM u${t}seg JOIN uw USING (w) GROUP BY 1
         |)""".stripMargin
    }
    (Seq(uniSeedSql, pieceStep(0, "useed")) ++
      (1 to UNI_T).flatMap(t => Seq(emStep(t), pieceStep(t, s"u${t}n")))
    ).mkString(",\n")
  }

  /** Oracle twin of [[uniSeed]]: the word vocab `uw`, the seed
    * substring counts `useed` and the chars `uchars`. Both the hard
    * chain ([[uniChainSql]]) and the soft chains ([[uniSoftSeedSql]])
    * start from it.
    */
  private lazy val uniSeedSql: String =
    s"""uw AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c, length(w) AS len
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), useed AS MATERIALIZED (
       |  SELECT p, CAST(sum(c) AS BIGINT) AS cnt FROM (
       |    SELECT c, substr(w, CAST(s.s AS INT), CAST(e.e - s.s + 1 AS INT)) AS p
       |    FROM uw
       |    JOIN generate_series(1, $UNI_MAXLEN) s(s) ON s.s <= uw.len
       |    JOIN generate_series(1, $UNI_MAXLEN) e(e)
       |      ON e.e >= s.s AND e.e <= least(s.s + ${UNI_PL - 1}, uw.len)
       |  ) GROUP BY p
       |), uchars AS MATERIALIZED (SELECT p FROM useed WHERE length(p) = 1)""".stripMargin

  /** Oracle twin of [[uniAdjust]]: piece table `name` from the counts
    * in `cntRel` — chars at count + `floor`, plus the top UNI_S
    * multi-char pieces by (cnt desc, p).
    */
  private def uniAdjustSql(name: String, cntRel: String, floor: Long): String =
    s"""$name AS MATERIALIZED (
       |  SELECT uchars.p AS p, coalesce(n.cnt, 0) + $floor AS cnt
       |  FROM uchars LEFT JOIN $cntRel n ON uchars.p = n.p
       |  UNION ALL
       |  SELECT p, cnt FROM (SELECT p, cnt FROM $cntRel
       |                      WHERE length(p) >= 2
       |                      ORDER BY cnt DESC, p LIMIT $UNI_S)
       |)""".stripMargin

  /** The soft chains' seed: [[uniSeedSql]] plus usp0, the oracle twin
    * of [[uniSoftSeed]]. The q296/q297 chain and the q301 prune chain
    * both start from it.
    */
  private lazy val uniSoftSeedSql: String =
    uniSeedSql + ",\n" +
      uniAdjustSql("usp0", s"(SELECT p, cnt * $UNI_Q AS cnt FROM useed)", UNI_Q)

  private def uniSoftProbSql(t: Int): String =
    s"""uprob$t AS MATERIALIZED (
       |  SELECT p, CAST(cnt AS DOUBLE) /
       |            (SELECT CAST(sum(cnt) AS DOUBLE) FROM usp$t) AS pr
       |  FROM usp$t
       |)""".stripMargin

  /** The forward/backward DP + quantized terms + usage recount for
    * one soft-EM step (the u{t}fa/u{t}fb chains, u{t}fl, u{t}tm,
    * u{t}n). The q296/q297 chain follows it with the usage-ranked
    * [[uniAdjustSql]]; the q301 prune chain with its loss CTEs and the
    * loss-ranked prune.
    */
  private def uniSoftDpSql(t: Int): String = {
      val Q = UNI_Q
      val lpRel = s"uprob${t - 1}"
      // forward chain: a_j = Σ arms, l DESCENDING (Spark folds s asc)
      val fas = (1 to UNI_MAXLEN).map { j =>
        val ls = (1 to math.min(UNI_PL, j)).reverse
        val joins = ls.map(l =>
          s"  LEFT JOIN $lpRel q$l ON q$l.p = substr(f.w, ${j - l + 1}, $l)")
        val arms = ls.map(l =>
          s"CASE WHEN $j <= f.len AND q$l.pr IS NOT NULL " +
            s"THEN f.a${j - l} * q$l.pr ELSE CAST(0 AS DOUBLE) END")
        val carry = (0 until j).map(i => s"f.a$i").mkString(", ")
        s"""u${t}fa$j AS MATERIALIZED (
           |  SELECT f.w, f.len, f.c, $carry,
           |         ${arms.mkString("\n         + ")} AS a$j
           |  FROM u${t}fa${j - 1} f
           |${joins.mkString("\n")}
           |)""".stripMargin
      }.mkString(",\n")
      // backward chain (distance from end): b_k = Σ arms, l ASCENDING
      val fbs = (1 to UNI_MAXLEN).map { k =>
        val ls = 1 to math.min(UNI_PL, k)
        val joins = ls.map(l =>
          s"  LEFT JOIN $lpRel q$l ON q$l.p = substr(f.w, f.len - $k + 1, $l)")
        val arms = ls.map(l =>
          s"CASE WHEN $k <= f.len AND q$l.pr IS NOT NULL " +
            s"THEN q$l.pr * f.b${k - l} ELSE CAST(0 AS DOUBLE) END")
        val carry = (0 until k).map(i => s"f.b$i").mkString(", ")
        s"""u${t}fb$k AS MATERIALIZED (
           |  SELECT f.w, f.len, $carry,
           |         ${arms.mkString("\n         + ")} AS b$k
           |  FROM u${t}fb${k - 1} f
           |${joins.mkString("\n")}
           |)""".stripMargin
      }.mkString(",\n")
      val alList = (0 to UNI_MAXLEN).map(i => s"a.a$i").mkString(", ")
      val btList = (0 to UNI_MAXLEN).map(i => s"b.b$i").mkString(", ")
      s"""u${t}fa0 AS (SELECT w, len, c, CAST(1 AS DOUBLE) AS a0 FROM uw),
         |$fas,
         |u${t}fb0 AS (SELECT w, len, CAST(1 AS DOUBLE) AS b0 FROM uw),
         |$fbs,
         |u${t}fl AS MATERIALIZED (
         |  SELECT a.w, a.len, a.c,
         |         list_value($alList) AS al, list_value($btList) AS bt
         |  FROM u${t}fa$UNI_MAXLEN a JOIN u${t}fb$UNI_MAXLEN b USING (w)
         |), u${t}tm AS MATERIALIZED (
         |  SELECT substr(f.w, CAST(s.s AS INT), CAST(l.l AS INT)) AS p,
         |         CAST(floor((CAST(f.c AS DOUBLE) *
         |           ((f.al[CAST(s.s AS INT)] * q.pr) *
         |            f.bt[CAST(f.len - s.s - l.l + 2 AS INT)]) /
         |           f.al[CAST(f.len + 1 AS INT)]) * CAST($Q AS DOUBLE))
         |         AS BIGINT) AS tq
         |  FROM u${t}fl f
         |  JOIN generate_series(1, $UNI_MAXLEN) s(s) ON s.s <= f.len
         |  JOIN generate_series(1, $UNI_PL) l(l) ON s.s + l.l - 1 <= f.len
         |  JOIN $lpRel q ON q.p = substr(f.w, CAST(s.s AS INT), CAST(l.l AS INT))
         |), u${t}n AS MATERIALIZED (
         |  SELECT p, sum(tq) AS cnt FROM u${t}tm GROUP BY 1
         |)""".stripMargin
  }

  /** One full q296 EM step: the shared DP block + the usage-ranked
    * piece-table update (chars at usage+Q ∪ top-UNI_S multi by cnt).
    */
  private def uniSoftEmStepSql(t: Int): String =
    uniSoftDpSql(t) + ",\n" + uniAdjustSql(s"usp$t", s"u${t}n", UNI_Q)

  /** The soft-EM chain (q296/q297) as SQL — the forward-backward DP
    * unrolled into widening position CTEs whose arithmetic replays
    * [[uniSoftAlphaExpr]]/[[uniSoftBetaExpr]]/[[uniSoftTermsExpr]]
    * with the LITERALLY IDENTICAL expression trees: α arms in the
    * same l-descending order (Spark's inner fold runs s ascending),
    * β arms l-ascending, absent arms as CASE→0.0 (x + 0.0 = x
    * bitwise for these non-negative products), the same
    * ((c·X)/Z)·2^20 association in the term, and floor→BIGINT at the
    * same point. Both engines evaluate correctly-rounded IEEE binary64
    * ops on identical inputs in identical order, so the quantized tq
    * integers agree exactly — no margin argument needed (the spec's
    * driver replay proves the fixed-order claim independently).
    */
  private lazy val uniSoftChainSql: String =
    (Seq(uniSoftSeedSql) ++
      (1 to UNI_T).flatMap(t =>
        Seq(uniSoftProbSql(t - 1), uniSoftEmStepSql(t)))).mkString(",\n")

  /** The q301 prune chain: the shared seed + per round the shared DP
    * block, then the leave-one-out loss CTEs — candidate (word,
    * piece) pairs, the EXCLUSION forward chain (the base chain's
    * arms with `q.p <> f.p`, same l-descending order, so per-arm
    * floats match [[uniSoftAlphaExclExpr]] exactly), the per-word
    * quantized loss terms, the loss-ranked keep set, and the pruned
    * piece table. Keep sizes unroll [[uniPruneKeeps]].
    */
  private lazy val uniPruneChainSql: String = {
    val Q = UNI_Q
    def pruneStep(t: Int, kKeep: Int): String = {
      val lpRel = s"uprob${t - 1}"
      // exclusion forward chain keyed (w, p): one extra carried
      // column p; arm order mirrors the base chain (l descending)
      val xas = (1 to UNI_MAXLEN).map { j =>
        val ls = (1 to math.min(UNI_PL, j)).reverse
        val joins = ls.map(l =>
          s"  LEFT JOIN $lpRel q$l ON q$l.p = substr(f.w, ${j - l + 1}, $l)")
        val arms = ls.map(l =>
          s"CASE WHEN $j <= f.len AND q$l.pr IS NOT NULL " +
            s"AND q$l.p <> f.p " +
            s"THEN f.a${j - l} * q$l.pr ELSE CAST(0 AS DOUBLE) END")
        val carry = (0 until j).map(i => s"f.a$i").mkString(", ")
        s"""u${t}xa$j AS MATERIALIZED (
           |  SELECT f.w, f.len, f.c, f.p, $carry,
           |         ${arms.mkString("\n         + ")} AS a$j
           |  FROM u${t}xa${j - 1} f
           |${joins.mkString("\n")}
           |)""".stripMargin
      }.mkString(",\n")
      val xlList = (0 to UNI_MAXLEN).map(i => s"x.a$i").mkString(", ")
      s"""u${t}wp AS MATERIALIZED (
         |  SELECT DISTINCT uw.w, uw.len, uw.c,
         |         substr(uw.w, CAST(s.s AS INT), CAST(l.l AS INT)) AS p
         |  FROM uw
         |  JOIN generate_series(1, $UNI_MAXLEN) s(s) ON s.s <= uw.len
         |  JOIN generate_series(2, $UNI_PL) l(l) ON s.s + l.l - 1 <= uw.len
         |  JOIN $lpRel q ON q.p = substr(uw.w, CAST(s.s AS INT), CAST(l.l AS INT))
         |),
         |u${t}xa0 AS (SELECT w, len, c, p, CAST(1 AS DOUBLE) AS a0 FROM u${t}wp),
         |$xas,
         |u${t}xfl AS MATERIALIZED (
         |  SELECT x.w, x.p, x.c, list_value($xlList) AS xl
         |  FROM u${t}xa$UNI_MAXLEN x
         |), u${t}ls AS MATERIALIZED (
         |  SELECT x.p,
         |         sum(CAST(floor((CAST(x.c AS DOUBLE) *
         |           ((f.al[CAST(f.len + 1 AS INT)] - x.xl[CAST(f.len + 1 AS INT)])
         |            / f.al[CAST(f.len + 1 AS INT)])) * CAST($Q AS DOUBLE))
         |         AS BIGINT)) AS loss
         |  FROM u${t}xfl x JOIN u${t}fl f USING (w) GROUP BY 1
         |), u${t}mu AS MATERIALIZED (
         |  SELECT u.p, u.cnt, coalesce(l.loss, 0) AS loss
         |  FROM u${t}n u LEFT JOIN u${t}ls l USING (p)
         |  WHERE length(u.p) >= 2
         |), u${t}keep AS MATERIALIZED (
         |  SELECT p FROM u${t}mu ORDER BY loss DESC, p LIMIT $kKeep
         |), usp$t AS MATERIALIZED (
         |  SELECT uchars.p AS p, coalesce(n.cnt, 0) + $Q AS cnt
         |  FROM uchars LEFT JOIN u${t}n n ON uchars.p = n.p
         |  UNION ALL
         |  SELECT n.p, n.cnt FROM u${t}n n JOIN u${t}keep USING (p)
         |)""".stripMargin
    }
    (Seq(uniSoftSeedSql) ++
      uniPruneKeeps.zipWithIndex.flatMap { case (k, r0) =>
        val t = r0 + 1
        Seq(uniSoftProbSql(t - 1), uniSoftDpSql(t), pruneStep(t, k))
      }).mkString(",\n")
  }

  /** The q273 GD iterations unrolled (score → residual → gradient →
    * weight update), mirroring [[lrScores]]' aggregates exactly.
    */
  private lazy val lrIterSql: String = (1 to LR_ITERS).map { t =>
    val prev = s"w${t - 1}"
    s"""s$t AS (
       |  SELECT f.doc_id, f.lang, sum(f.x * w.w) AS s
       |  FROM feats f JOIN $prev w USING (b) GROUP BY 1, 2
       |), r$t AS (
       |  SELECT doc_id,
       |         (1 / (1 + exp(-s)) -
       |          CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS r
       |  FROM s$t
       |), g$t AS (
       |  SELECT f.b, sum(r.r * f.x) AS g
       |  FROM feats f JOIN r$t r USING (doc_id) GROUP BY 1
       |), w$t AS MATERIALIZED (
       |  SELECT w.b, w.w - $LR_ETA * g.g / nn.n AS w
       |  FROM $prev w JOIN g$t g USING (b) CROSS JOIN nn
       |)""".stripMargin
  }.mkString(",\n")

  /** The q274/q278 BPE chain: word counts `wc`, the single-char
    * symbol lists `bv0`, then the merge steps unrolled (pair argmax →
    * fold rewrite), mirroring [[bpeMergeChain]] exactly. Both bp$t
    * (the output AND the rewrite input) and bv$t (next step's input)
    * are multiply referenced → MATERIALIZED per the CTE-inlining
    * discipline.
    */
  private lazy val bpeChainSql: String = {
    val steps = (1 to BPE_T).map { t =>
      val prev = s"bv${t - 1}"
      s"""bp$t AS MATERIALIZED (
         |  SELECT $t AS step, pa, pb, CAST(sum(c) AS BIGINT) AS n_occ FROM (
         |    SELECT c, syms[i] AS pa, syms[i + 1] AS pb
         |    FROM $prev, unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |    WHERE len(syms) >= 2)
         |  GROUP BY 2, 3 ORDER BY n_occ DESC, pa, pb LIMIT 1
         |), bv$t AS MATERIALIZED (
         |  SELECT c, list_reduce(list_transform(syms, x -> [x]),
         |      (acc, x) -> CASE WHEN acc[-1] = p.pa AND x[1] = p.pb
         |                  THEN acc[:-2] || [p.pa || p.pb] ELSE acc || x END) AS syms
         |  FROM $prev CROSS JOIN bp$t p
         |)""".stripMargin
    }
    s"""wc AS MATERIALIZED (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1
       |), bv0 AS MATERIALIZED (
       |  SELECT c, list_transform(generate_series(1, length(w)),
       |                           i -> substr(w, CAST(i AS INT), 1)) AS syms
       |  FROM wc WHERE w <> ''
       |),
       |${steps.mkString(",\n")}""".stripMargin
  }
}
