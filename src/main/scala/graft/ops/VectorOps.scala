package graft.ops

import graft.T
import graft.functions.ScalableRank
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity operators over the embeddings table — north-star
  * extensions (SURVEY.md §2.2 "top-k vector similarity"). No analog in
  * the reference.
  *
  * Cosine is computed by the native codegen'd DotProduct expression
  * (graft.functions.VectorKernels) entirely in double precision — the
  * custom-Expression tier of SURVEY.md §7.4, chosen because the
  * higher-order aggregate(zip_with(...)) form interprets its lambda and
  * allocates per pair. Norms are computed once per vector *before* any
  * join so the O(pairs) stage only multiplies and sums.
  *
  * Scale tiers:
  *  - q64 blocks the pair space by an existing coarse key (label), with
  *    the in-block pair enumeration CHUNKED so one dominant label can
  *    never concentrate its quadratic pair set in one task (see
  *    [[chunkedPairs]]).
  *  - q65 is brute-force top-k for a bounded query set: the query side
  *    is broadcast, the corpus side streams, so cost is |Q|·n with no
  *    shuffle of the corpus.
  *  - q66 is IVF with centroids LEARNED by label-free deterministic
  *    Lloyd kmeans ([[kmeansCentroids]]) and nprobe=4 — approximate in
  *    RECALL but deterministic in result, so since round 8 it is fully
  *    oracle-checked (the DuckDB SQL replays the kmeans chain unrolled);
  *    the recall floor vs q65 stays asserted in ScalaTest.
  */
object VectorOps {
  type Q = (SparkSession, String) => DataFrame

  /** embeddings with the raw float vector and a precomputed norm. The
    * dot-product kernel is the codegen'd DotProduct expression
    * (graft.functions.VectorKernels) — no per-pair array allocation, no
    * interpreted lambda; arithmetic is identical to the higher-order
    * form (double widening, left-to-right accumulation) so oracle
    * results are unchanged.
    */
  private def emb(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorKernels.ensureRegistered(s)
    T.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
  }

  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Number of random-hyperplane signature bits for q118 (256 buckets;
    * with 1-bit multiprobe a query touches 9 of them).
    */
  val RH_BITS = 8

  /** PQ geometry for q259/q260: PQ_M subspaces × PQ_D dims each (= the
    * 64-dim embedding), PQ_K codewords per subspace, PQ_ITERS Lloyd
    * iterations — a 64-float vector stores as PQ_M small codes.
    */
  val PQ_M = 4
  val PQ_D = 16
  val PQ_K = 16
  val PQ_ITERS = 2

  /** Size of q286's EXTERNAL query set — vectors that are NOT corpus
    * rows, generated from exact dyadic-rational arithmetic
    * (qv[i] = ((q·31 + i·17) mod 13 − 6)/8) so both engines replay
    * them bit-identically without reading the corpus.
    */
  val EXTQ_N = 4

  /** Size of q300's ADD batch — external vectors (same dyadic
    * generator as [[EXTQ_N]]'s query set, wider id range) encoded
    * into the stored index without retraining.
    */
  val ADDQ_N = 16

  /** IVF cell count (nlist) for the coarse quantizer — the whole IVF
    * substrate (live q66/q257 chain AND the stored q262 index; they
    * must agree, see the q262 substrate-agreement spec) uses ONE dial.
    * Round-12 (scale-hardening the serving tail): the old fixed k=10
    * made each query's nprobe=4 candidate set a constant ~40% of the
    * corpus at any scale; nlist = max(10, ⌈√N⌉) — the FAISS default
    * sizing this tier otherwise mirrors — shrinks candidates-per-probe
    * as the corpus grows (≈ 4√N rows per query at 100 TB).
    * `SPARK_GRAFT_IVF_NLIST` overrides for experiments; the DuckDB
    * oracle computes the SAME value via [[ivfNlistSqlExpr]] (both
    * sides run ⌈√N⌉ through IEEE double sqrt/ceil on the same integer,
    * so they can never disagree).
    */
  def ivfNlist(n: Long): Int = sys.env.get("SPARK_GRAFT_IVF_NLIST")
    .map(_.toInt)
    .getOrElse(math.max(10, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** The nlist rule as a DuckDB scalar expression (LIMIT accepts
    * subqueries), mirroring [[ivfNlist]] including the env override.
    */
  private lazy val ivfNlistSqlExpr: String =
    sys.env.getOrElse("SPARK_GRAFT_IVF_NLIST",
      "greatest(10, CAST(ceil(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT))")

  /** FAISS-style bounded-training dial (round-12): every Lloyd trainer
    * fits its centroids on ≈ cap·k vectors instead of the full corpus
    * (faiss Clustering.cpp's max_points_per_centroid=256 default), so
    * the dominant build cost drops from iters·N·k distance rows to
    * iters·(cap·k)·k + the ONE final full-corpus assignment pass —
    * at N=10⁸ / nlist=10⁴ that is ~40× less training work. The cap
    * never binds below cap·k vectors (65k at the default for the
    * coarse chain), so small-SF results are bit-unchanged; it is part
    * of both engines' plans at EVERY scale (the DuckDB oracles carry
    * the same predicate), so the substrate-agreement invariant holds
    * wherever the gate runs. `SPARK_GRAFT_IVF_TRAIN_PER_CELL`
    * overrides for experiments (mirrored into the SQL at build time
    * like the nlist dial).
    */
  def ivfTrainCap: Int = sys.env.get("SPARK_GRAFT_IVF_TRAIN_PER_CELL")
    .map(_.toInt).filter(_ > 0).getOrElse(256)

  private lazy val ivfTrainCapSql: String = ivfTrainCap.toString

  /** Two-level coarse-assignment dial (round-13, the q290 promotion
    * the round-12 verdict asked for): when set, the STORED index's
    * full-corpus cell assignment routes through the hierarchical
    * super-quantizer probe (≈3N·√nlist distance rows instead of
    * N·nlist — N^1.25 end to end), trading the q290-audited agreement
    * rate for build cost. OFF by default: the two-level assignment is
    * approximate (the true nearest cell can live under an unprobed
    * super), so it is an explicit opt-in, not a silent default. The
    * dial is part of the index-root identity (a t2 segment), and
    * every STORE-READING oracle swaps its g5 replay to the two-level
    * chain under the dial ([[ivfChainBodyStored]]) — live-chain
    * oracles (q66/q257/q289/q290) are exact-assignment semantics and
    * never switch.
    */
  def ivfTwoLevel: Boolean = sys.env.get("SPARK_GRAFT_IVF_TWOLEVEL")
    .exists(v => v == "1" || v == "true")

  /** k2 = max(3, ⌈√nlist⌉) super-cells — the q290 sizing, shared by
    * the dial path ([[ivfNlist]]'s shape one level up).
    */
  def ivfK2(nlist: Int): Int =
    math.max(3, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** Lowercase 8-hex md5-prefix threshold admitting ≈ cap·k of n rows
    * (clamped to the all-pass "ffffffff" when cap·k ≥ n). Both engines
    * run the SAME IEEE product/quotient (left-associated doubles on
    * identical integers), so the literal can never disagree.
    */
  def trainThrHex(n: Long, k: Int, cap: Int): String = {
    val v = math.min(4294967295.0,
      math.floor(4294967296.0 * cap * k / n.toDouble))
    f"${v.toLong}%08x"
  }

  /** Train-membership predicate: a deterministic hash-threshold sample
    * (the distributed form of FAISS's random training subsample) — a
    * pure map-side FILTER on md5(vec_id), never a global sort or a
    * single-task top-S, so drawing the sample costs one scan at any N.
    */
  def trainPred(n: Long, k: Int, cap: Int = ivfTrainCap): Column =
    substring(md5(col("vec_id").cast("string")), 1, 8) <= lit(trainThrHex(n, k, cap))

  /** The bounded Lloyd training relation: `df` itself when the cap
    * does not bind (identical plan, zero cost), else the hash-threshold
    * sample. Keyed purely on vec_id, so it applies to raw, sliced,
    * rotated and residual relations alike.
    */
  def trainSample(df: DataFrame, n: Long, k: Int, cap: Int = ivfTrainCap): DataFrame =
    if (cap.toLong * k >= n) df else df.filter(trainPred(n, k, cap))

  /** SQL mirror of [[trainPred]] on relation alias `a` — scale-generic
    * (DuckDB derives the identical threshold from its own count, the
    * [[ivfNlistSqlExpr]] pattern). `cntSql` parameterizes WHICH corpus
    * the sample is drawn from (round-14: the incremental-add tier
    * trains its frozen state on the OLD subset only); the default
    * reproduces the historical text byte-for-byte.
    */
  private def trainPredSql(a: String, kExpr: String, capSql: String,
      cntSql: String = "(SELECT count(*) FROM embeddings)"): String =
    s"substr(md5(CAST($a.vec_id AS VARCHAR)),1,8) <= lpad(lower(to_hex(" +
      s"CAST(least(4294967295, floor(4294967296.0 * $capSql * ($kExpr) / " +
      s"CAST($cntSql AS DOUBLE))) AS BIGINT))), 8, '0')"

  /** ±1 diagonal of the fixed RR-PQ rotation (q265/q266): sign i is
    * the parity of the first 8 hex chars of md5("rot" + i), the
    * md5-coin idiom every deterministic draw in this file uses — so
    * the DuckDB oracle replays the identical diagonal from
    * `md5('rot' || CAST(i AS VARCHAR))` in SQL. With H the 64-point
    * Walsh-Hadamard matrix, R = H·diag(signs)/8 is exactly orthogonal;
    * see [[graft.functions.HadamardRotate]] for the kernel and the
    * literature citation.
    */
  lazy val hdSigns: Array[Double] = (1 to 64).map { i =>
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rot$i".getBytes("UTF-8")).take(4).map(b => f"${b & 0xff}%02x").mkString
    if (java.lang.Long.parseLong(h, 16) % 2 == 0) 1.0 else -1.0
  }.toArray

  /** The corpus under the fixed rotation, (vec_id, v) with v =
    * H·(signs ⊙ embedding)/8 as array<double> — one codegen'd
    * O(d log d) kernel call per vector, map-side, no shuffle. At
    * 100 TB the rotation is applied once at ingest and stored; here
    * the tier recomputes it inline (it is cheaper than one read of
    * the vector it transforms).
    */
  private def rotated(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorKernels.ensureRegistered(s)
    T.embeddings(s, d).select(col("vec_id"),
      call_udf("graft_hdrot", col("embedding"), typedlit(hdSigns.toSeq)).as("v"))
  }

  /** Deterministic random hyperplanes: fixed-seed gaussians, materialized
    * as literal arrays so the signature is 8 codegen'd graft_dot's over
    * constants — a pure projection, reproducible on any cluster.
    */
  private lazy val rhPlanes: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(20260812L)
    Seq.fill(RH_BITS)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** 8-bit sign signature of a vector column under [[rhPlanes]].
    * typedlit (not SQL text) carries the plane constants: a SQL decimal
    * literal would arrive as DECIMAL, which graft_dot rejects — the
    * CLAUDE.md decimal-literal trap.
    */
  def rhSignature(v: Column): Column =
    rhPlanes.zipWithIndex.foldLeft(lit(0)) { case (acc, (p, h)) =>
      acc + when(call_udf("graft_dot", v, typedlit(p.toSeq)) > 0,
        lit(1 << h)).otherwise(lit(0))
    }

  /** All within-label pairs (id1 < id2) with cosine, via the blocked
    * triangle join (round-3 verdict item 3).
    *
    * A plain label-equality self-join bounds the pair space only by
    * label cardinality: one dominant label — routine in real corpora —
    * lands its entire quadratic pair set on the single task that owns
    * that join key. Here each label's rows are split into rank-ordered
    * chunks of `chunkSize` (the rank itself computed scalably —
    * ScalableRank, because a label is exactly a low-cardinality key),
    * and the pair space is enumerated per chunk-cell: side A replicates
    * a chunk-i row to every target cell (i, j≥i), side B replicates a
    * chunk-j row to every cell (i≤j, j), and the join key is
    * (label, i, j). Every unordered pair lands in exactly one cell
    * (chunks are id-ordered, so cross-chunk pairs are already
    * id1 < id2), and every cell holds ≤ chunkSize² candidate pairs NO
    * MATTER how large the label — the skew guard VectorOpsSpec asserts.
    * The replication factor is ~(blockRows/chunkSize)/2 per side —
    * the standard square-block decomposition trade of replication for
    * bounded per-task work.
    *
    * Returns id1, id2, cos plus the (__lbl, __ci, __cj) cell the pair
    * was enumerated in (for the spec's skew audit; queries project it
    * away).
    */
  def chunkedPairs(e: DataFrame, chunkSize: Int): DataFrame = {
    val p = e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranked = ScalableRank.withRanks(
      e.select(col("vec_id"), col("label"), col("v"), col("nrm")),
      keys = Seq("label"), order = Seq(col("vec_id")), tie = Seq(col("vec_id")),
      numPartitions = p)
      .withColumn("__chunk", floor((col("rn") - 1) / chunkSize).cast("long"))
      .withColumn("__nchunks", floor((col("ntot") - 1) / chunkSize).cast("long") + 1)
    val a = ranked.select(
      col("vec_id").as("id1"), col("label").as("__lbl"),
      col("v").as("v1"), col("nrm").as("n1"), col("__chunk").as("__ci"),
      explode(sequence(col("__chunk"), col("__nchunks") - 1)).as("__cj"))
    val b = ranked.select(
      col("vec_id").as("id2"), col("label").as("__lbl2"),
      col("v").as("v2"), col("nrm").as("n2"), col("__chunk").as("__cjb"),
      explode(sequence(lit(0L), col("__chunk"))).as("__cib"))
    a.join(b,
        col("__lbl") === col("__lbl2") && col("__ci") === col("__cib") &&
          col("__cj") === col("__cjb") && col("id1") < col("id2"))
      .withColumn("cos", dot("v1", "v2") / (col("n1") * col("n2")))
      .select(col("id1"), col("id2"), col("cos"),
              col("__lbl"), col("__ci"), col("__cj"))
  }

  /** Deterministic label-free Lloyd kmeans over the embedding column,
    * entirely as DataFrame aggregations (round-3 verdict item 2 — real
    * IVF must not depend on a label column a real corpus doesn't
    * have).
    *
    *  - init: the k vectors that sort first by md5(vec_id) — a fixed
    *    pseudo-random draw, no RNG state;
    *  - assign: argmin over squared distance via min(struct(dist,
    *    cell)) — a partial-aggregable groupBy, NOT a window, so the
    *    map side combines n·k rows down to n before any shuffle;
    *  - update: per-(cell, position) avg — k·dim groups whose shuffle
    *    carries only map-side partials, safe at any corpus size;
    *  - empty cells keep their previous centroid (deterministic);
    *  - fixed iteration count; each iteration's centroid relation
    *    (k rows) is eagerly localCheckpoint'ed to truncate the
    *    iterative lineage.
    *
    * Returns (cell, cv, cn): cell id, centroid vector, centroid norm.
    */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val wInit = Window.orderBy(col("__h"), col("vec_id"))
    var cent = e
      .select(col("vec_id"), col("v"), md5(col("vec_id").cast("string")).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      // k rows: the init window runs on a single task by construction
      .select(row_number().over(wInit).as("cell"), col("v").as("cv"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = assignCells(e, cent)
      val updated = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), expr("transform(pm, x -> x.m)").as("cvnew"))
      cent = cent
        .join(updated, Seq("cell"), "left_outer")
        .select(col("cell"), coalesce(col("cvnew"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    cent.withColumn("cn", sqrt(expr("graft_dot(cv, cv)")))
  }

  /** Nearest-centroid assignment: broadcast the k centroids, compute
    * squared distance per (vector, cell), and take the argmin with a
    * partial-aggregable min(struct(dist, cell)) groupBy — one keyed
    * shuffle of n rows (post-combine), never a low-cardinality window.
    * Ties break to the lowest cell id (struct ordering), so the
    * assignment is deterministic.
    */
  def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent.select(col("cell"), col("cv"))))
      .withColumn("__d2",
        dot("v", "v") - lit(2.0) * dot("v", "cv") + dot("cv", "cv"))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
           min(struct(col("__d2"), col("cell"))).as("__mc"))
      .select(col("vec_id"), col("v"), col("nrm"), col("__mc.cell").as("cell"))

  /** Two-level (hierarchical) nearest-cell assignment — q290's
    * construction, factored so the [[ivfTwoLevel]] build dial and the
    * q290 audit tier share one implementation: a super-quantizer over
    * the CENTROID set (k2 cells, trained on nlist rows — corpus-free,
    * the documented trainSample exemption), cell→super routing, each
    * vector probing its top-2 supers (high-card vec_id window, the
    * rn <= 2 filter WindowGroupLimit-prunable), then argmin over the
    * probed supers' child cells only. ≈ N·(√nlist + 2·nlist/k2)
    * distance rows instead of N·nlist. Returns (vec_id, cell).
    */
  def twoLevelAssign(e: DataFrame, cent: DataFrame, k2: Int): DataFrame = {
    val e2 = cent.select(col("cell").as("vec_id"), col("cv").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val sup = kmeansCentroids(e2, k = k2, iters = 2)
      .select(col("cell").as("scell"), col("cv").as("scv"))
    // cell -> super routing table (argmin over k2 supers; nlist rows)
    val cellSup = assignCells(e2,
        sup.select(col("scell").as("cell"), col("scv").as("cv")))
      .select(col("vec_id").as("ccell"), col("cell").as("scell"))
    // probe only supers that own >= 1 cell, so no vector can route
    // to a childless super and lose its row
    val supLive = sup.join(cellSup.select(col("scell")).distinct(),
      Seq("scell"), "left_semi")
    val wV = Window.partitionBy(col("vec_id")).orderBy(col("__sd2"), col("scell"))
    val vSup = e.crossJoin(broadcast(supLive))
      .withColumn("__sd2",
        dot("v", "v") - lit(2.0) * dot("v", "scv") + dot("scv", "scv"))
      .withColumn("pr", row_number().over(wV)).filter(col("pr") <= 2)
      .select(col("vec_id"), col("v"), col("scell"))
    vSup.join(broadcast(cellSup), Seq("scell"))
      .join(broadcast(cent.select(col("cell").as("ccell"), col("cv"))), Seq("ccell"))
      .withColumn("__d2",
        dot("v", "v") - lit(2.0) * dot("v", "cv") + dot("cv", "cv"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("__d2"), col("ccell"))).as("__mc"))
      .select(col("vec_id"), col("__mc.ccell").as("cell"))
  }

  /** All PQ_M subspace slices of a (vec_id, v) relation as ONE fused
    * relation keyed by sub — the input shape for [[kmeansCentroidsFused]].
    */
  private def pqSubSlices(base: DataFrame): DataFrame =
    (0 until PQ_M).map { sb =>
      base.select(lit(sb).as("sub"), col("vec_id"),
        expr(s"slice(v, ${PQ_D * sb + 1}, $PQ_D)").as("v"))
    }.reduce(_ unionByName _)

  /** All PQ_M subspace codebooks trained in ONE fused Lloyd chain
    * (round-9): rows are (sub, vec_id, slice) and centroids
    * (sub, cell, cv), so each iteration is ONE corpus pass instead of
    * PQ_M — the way a production trainer updates every subquantizer
    * per data pass. Semantics are the per-subspace chains exactly:
    * the seed ids are the one global md5 draw (computed once on the
    * tiny limit-k relation, never a corpus-wide window), every
    * assignment/update keys carry sub, and empty cells keep their
    * previous codeword. Per-group float sums may merge in a different
    * order than the per-sub chains ran them — absorbed by the same
    * argmin-margin bound every vector oracle already rests on (and
    * re-gated empirically at all three SFs).
    */
  def kmeansCentroidsFused(base: DataFrame, es: DataFrame, k: Int, iters: Int): DataFrame = {
    val wInit = Window.orderBy(col("__h"), col("vec_id"))
    val seeds = base
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      // k rows: the init window runs on a single task by construction
      .select(row_number().over(wInit).as("cell"), col("vec_id"))
    var cent = es.join(broadcast(seeds), Seq("vec_id"))
      .select(col("sub"), col("cell"), col("v").as("cv"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = assignCellsFused(es, cent)
      val updated = assigned
        .select(col("sub"), col("cell"), posexplode(col("v")))
        .groupBy(col("sub"), col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("sub"), col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("cell"), expr("transform(pm, x -> x.m)").as("cvnew"))
      cent = cent
        .join(updated, Seq("sub", "cell"), "left_outer")
        .select(col("sub"), col("cell"), coalesce(col("cvnew"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    cent
  }

  /** Fused nearest-codeword assignment: broadcast the PQ_M·k
    * codebooks, join on sub (so each slice row sees only its own
    * subspace's codewords), argmin via the same partial-aggregable
    * min(struct) groupBy — now keyed (sub, vec_id).
    */
  def assignCellsFused(es: DataFrame, cent: DataFrame): DataFrame =
    es.join(broadcast(cent.select(col("sub"), col("cell"), col("cv"))), Seq("sub"))
      .withColumn("__d2",
        dot("v", "v") - lit(2.0) * dot("v", "cv") + dot("cv", "cv"))
      .groupBy(col("sub"), col("vec_id"))
      .agg(first(col("v")).as("v"),
           min(struct(col("__d2"), col("cell"))).as("__mc"))
      .select(col("sub"), col("vec_id"), col("v"), col("__mc.cell").as("cell"))

  /** The fused assignment pivoted to one 4-byte code row per vector:
    * (vec_id, c0..c3 TINYINT) — a single (sub, vec_id)-keyed shuffle
    * plus a vec_id rollup, replacing PQ_M separate chains + a
    * PQ_M-way join.
    */
  def pqCodesFused(es: DataFrame, cent: DataFrame): DataFrame = {
    val cs = (0 until PQ_M).map(sb =>
      max(when(col("sub") === sb, col("cell"))).cast("byte").as(s"c$sb"))
    assignCellsFused(es, cent)
      .groupBy(col("vec_id"))
      .agg(cs.head, cs.tail: _*)
  }

  /** BUILD tier of the stored IVFADC index (q262) — materializes the
    * layout q261's composition previously only documented:
    *
    *  - `centroids/`  — the nlist = ⌈√N⌉ IVF centroids (cell, cv, cn);
    *  - `codebooks/`  — the 4 RAW-vector PQ codebooks, 64 rows
    *    (sub, cell, cv) — the ablation tier q260/q261 serve from;
    *  - `rcodebooks/` — the 4 RESIDUAL PQ codebooks (same shape),
    *    trained on r = v − centroid(cell(v)) — FAISS IndexIVFPQ's
    *    by_residual=true default (round-12 verdict item 2): the
    *    16-way codebooks spend their bits on the part of the vector
    *    the IVF tier hasn't already explained;
    *  - `codes/`      — the corpus as PQ codes (vec_id, c0..c3 raw,
    *    r0..r3 residual, all TINYINT), written `partitionBy(cell)` so
    *    the directory structure IS the IVF index: a query lists only
    *    its nprobe cell directories. The PRODUCTION serving tiers
    *    (q263/q286) rank by the residual codes; the raw columns keep
    *    the q260/q261 ablation exactly reproducible from the same
    *    store.
    *
    * At 100 TB this is the whole point of IVFADC: the index is
    * n×(8+8) bytes however wide the embeddings are, the build is the
    * audited q66/q259/q264 substrate (broadcast centroids + one keyed
    * argmin shuffle per relation, never quadratic), and the write's
    * only shuffle is the cell-partitioned sink. Returns the index
    * root.
    *
    * Root, memo, sweep and publish are [[graft.StateRoot]]'s. The bits
    * are deterministic (md5-coin kmeans), so rebuilds are idempotent.
    * The root lives under java.io.tmpdir in local mode; the layout is
    * filesystem-agnostic (plain parquet + directory partitioning), so
    * on a cluster the same three relations land on the object store /
    * HDFS and every property the plan audits pin (partition pruning,
    * broadcast dq tables, id-fetch re-rank) carries over unchanged.
    */
  def ensureIvfadcIndex(s: SparkSession, d: String): String = {
    lazy val nVecs = T.embeddings(s, d).count()
    // nlist from the corpus size and the two-level dial both
    // change the stored bits, so both are part of the root's identity
    lazy val nlist = ivfNlist(nVecs)
    graft.StateRoot.ensure("ivfadc", d, s"k$nlist${if (ivfTwoLevel) "t2" else ""}") { sp =>
      graft.functions.VectorKernels.ensureRegistered(s)
      val e64 = emb(s, d)
      // trainers fit on the bounded sample (trainSample — all-pass at
      // driver SFs, iters·cap·k² work instead of iters·N·k at scale);
      // every ASSIGNMENT below stays full-corpus.
      val cents = kmeansCentroids(trainSample(e64, nVecs, nlist), k = nlist, iters = 4)
      cents.coalesce(1).write.mode("overwrite").parquet(s"$sp/centroids")
      val base = T.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      // all four subquantizers train in ONE fused chain — one corpus
      // pass per Lloyd iteration instead of PQ_M (see
      // kmeansCentroidsFused; bits equal to the per-sub chains the
      // oracle replays, by the argmin-margin bound)
      val slices = pqSubSlices(base)
      val baseT = trainSample(base, nVecs, PQ_K)
      val cbF = kmeansCentroidsFused(baseT, pqSubSlices(baseT), k = PQ_K, iters = PQ_ITERS)
      cbF.coalesce(1).write.mode("overwrite").parquet(s"$sp/codebooks")
      // the cell assignment feeds the codes write AND the residual
      // relation — checkpoint so the corpus-wide argmin runs once.
      // Under the two-level dial it routes through the hierarchical
      // probe (q290's audited relation — the agreement census is that
      // tier's published output, which is why the dial is opt-in).
      val cells = (if (ivfTwoLevel) twoLevelAssign(e64, cents, ivfK2(nlist))
                   else assignCells(e64, cents).select(col("vec_id"), col("cell")))
        .localCheckpoint(true)
      // residual tier (round-13, verdict item 2): r = v − centroid of
      // the assigned cell, through the codegen'd graft_sub kernel;
      // materialized once — the residual Lloyd iterations and the
      // final code assignment all consume it (the q264 posture, now
      // IN the build where a production store trains it)
      val resid = cells
        .join(base, Seq("vec_id"))
        .join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell"))
        .select(col("vec_id"), expr("graft_sub(v, cv)").as("v"))
        .localCheckpoint(true)
      val residT = trainSample(resid, nVecs, PQ_K)
      val rcbF = kmeansCentroidsFused(residT, pqSubSlices(residT), k = PQ_K, iters = PQ_ITERS)
      rcbF.coalesce(1).write.mode("overwrite").parquet(s"$sp/rcodebooks")
      val rCodes = pqCodesFused(pqSubSlices(resid), rcbF)
        .select(col("vec_id"), col("c0").as("r0"), col("c1").as("r1"),
                col("c2").as("r2"), col("c3").as("r3"))
      // OPQ-rotated residual encoding (round-14, r13 verdict item 4):
      // q287's TRAINED rotation composed with the residual build — the
      // residuals rotate through the codegen'd graft_matvec kernel
      // before their own PQ training, exactly FAISS's "OPQ64,IVF…,PQ…"
      // index_factory composition (OPQ as a VectorTransform in front
      // of the residual quantizer). In FAISS that pretransform is
      // OPT-IN (unlike by_residual=true, which is the default the
      // round-13 flip tracked), so the o-encoding ships as an
      // ADDITIONAL index citizen next to r0..r3 — q294 serves from it,
      // q295 publishes its recall next to the unrotated store's, and
      // the plain-residual tiers (q263/q286/q264) stay byte-stable.
      // R itself is stored with the index (rot/) so serving needs no
      // retraining — one extra matvec per (query, probed cell).
      val rotDf = opqRotation(s, d)
      rotDf.coalesce(1).write.mode("overwrite").parquet(s"$sp/rot")
      val rflat = rotDf
        .agg(array_sort(collect_list(struct(col("i"), col("j"), col("q")))).as("rs"))
        .select(expr(s"transform(rs, x -> CAST(x.q AS DOUBLE) / $PCA_SCALE.0)")
          .as("rflat"))
      val residR = resid.crossJoin(broadcast(rflat))
        .select(col("vec_id"), expr("graft_matvec(rflat, v)").as("v"))
        .localCheckpoint(true)
      val residRT = trainSample(residR, nVecs, PQ_K)
      val ocbF = kmeansCentroidsFused(residRT, pqSubSlices(residRT), k = PQ_K, iters = PQ_ITERS)
      ocbF.coalesce(1).write.mode("overwrite").parquet(s"$sp/ocodebooks")
      val oCodes = pqCodesFused(pqSubSlices(residR), ocbF)
        .select(col("vec_id"), col("c0").as("o0"), col("c1").as("o1"),
                col("c2").as("o2"), col("c3").as("o3"))
      cells
        .join(pqCodesFused(slices, cbF), Seq("vec_id"))
        .join(rCodes, Seq("vec_id"))
        .join(oCodes, Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$sp/codes")
    }
  }

  /** The corpus query relation of the stored-index tiers: rows
    * vec_id < 5 as (q_id, qv, qn), CHECKPOINTED — it is referenced
    * from the probes, the lookup tables, the re-rank and the DPP
    * subqueries the codes scans host, so ONE embeddings probe-read
    * serves every use.
    */
  private def corpusQueries(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
      .localCheckpoint(true)

  /** The IVF probe ranking: each query's nprobe=4 nearest stored
    * centroids by cosine, ties broken on cell. `q0` carries
    * (q_id, qv, qn). The result stays a LAZY plan: on the side that
    * feeds the codes scan, projected to (q_id, cell), its pr <= 4
    * filter is the selective predicate Spark's partition-pruning rule
    * looks for — checkpointing it into an opaque RDD kills the
    * dynamic pruning (measured: the codes scan reverts to reading
    * every cell).
    */
  private def probeCells(q0: DataFrame, cents: DataFrame): DataFrame =
    q0.crossJoin(broadcast(cents))
      .withColumn("ccos", dot("qv", "cv") / (col("qn") * col("cn")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("pr") <= 4)

  /** The PQ_M per-subspace ADC lookup tables, each broadcast: for
    * every `src` row (keyed by `keys`), the squared L2 distance from
    * the subspace slice of `qExpr` to each codeword of `cbs`, as
    * (keys…, <enc><sb>, d<sb>) — |keys|·16 rows per subspace however
    * large the corpus.
    */
  private def adcTables(src: DataFrame, keys: Seq[String], qExpr: String,
                        cbs: DataFrame, enc: String): Seq[DataFrame] =
    (0 until PQ_M).map { sb =>
      broadcast(src
        .select(keys.map(col) :+ expr(s"slice($qExpr, ${PQ_D * sb + 1}, $PQ_D)").as("qs"): _*)
        .crossJoin(broadcast(cbs.filter(col("sub") === sb)
          .select(col("cell").cast("byte").as(s"$enc$sb"), col("cv").as("cw"))))
        .select(keys.map(col) ++ Seq(col(s"$enc$sb"),
          expr("graft_dot(qs, qs) - 2 * graft_dot(qs, cw) + graft_dot(cw, cw)")
            .as(s"d$sb")): _*))
    }

  /** The ADC join: each candidate row picks its table row per
    * subspace (on the `keys` it carries plus its code) and scores the
    * FIXED-ORDER d0+d1+d2+d3 sum, never a per-pair float reduction
    * whose order could drift — so candidates with equal codes read
    * identical table rows and tie exactly. A full-corpus scan carries
    * no q_id: its first table join supplies it. Output
    * (q_id, id2, adc).
    */
  private def adcScores(cand: DataFrame, dqs: Seq[DataFrame], keys: Seq[String],
                        enc: String): DataFrame =
    dqs.zipWithIndex.foldLeft(cand) { case (acc, (dq, sb)) =>
      acc.join(dq, keys.filter(k => acc.columns.contains(k)) :+ s"$enc$sb")
    }.select(col("q_id"), col("vec_id").as("id2"), expr("d0 + d1 + d2 + d3").as("adc"))

  /** The IVFADC candidates behind every stored-index tier:
    * the nprobe=4 probe against the stored centroids, the DPP-pruned
    * fetch from the cell-partitioned codes, and the ADC scores over
    * the probed cells, (q_id, id2, adc). `q0` is a [[corpusQueries]]-
    * shaped relation (CHECKPOINTED by the caller). `enc` picks the
    * stored encoding the ADC reads — the code columns and codebooks:
    *  - "c": raw codes/codebooks/, tables per query from qv (the
    *    q261 ablation);
    *  - "r": residual r0..r3/rcodebooks/ (FAISS's by_residual=true
    *    serving path), tables per (query, PROBED CELL) from the
    *    query's residual qv − cv wrt that centroid;
    *  - "o": OPQ-rotated residual o0..o3/ocodebooks/ — the stored
    *    rotation (rot/) rotates that residual through ONE extra
    *    graft_matvec, |Q|·nprobe matvecs, never a corpus-sized one.
    * `selfExclude` drops the query's own corpus row — meaningless for
    * external queries, which have none.
    *
    * Also returns the per-query candidate count (q_id, n_cand) as a
    * partial-aggregable groupBy(q_id), never count(1) OVER
    * (PARTITION BY q_id): that full-frame window escapes the
    * WindowGroupLimit prune and funnels each query's ENTIRE candidate
    * set through one task (the round-11 verdict's scale finding),
    * while the groupBy combines map-side. It counts the fetched
    * candidates before the ADC join, which drops none (every code has
    * a row in every table). Both consumers of the candidate fetch
    * keep the lazy probe filter, so both codes scans stay DPP-pruned
    * to the probed cells (plan-pinned; a checkpoint here would kill
    * the pruning).
    */
  private def ivfadcCandidates(s: SparkSession, d: String, q0: DataFrame,
                               selfExclude: Boolean, enc: String): (DataFrame, DataFrame) = {
    val root = ensureIvfadcIndex(s, d)
    val cents = s.read.parquet(s"$root/centroids")
    val cbs = s.read.parquet(s"$root/${if (enc == "c") "" else enc}codebooks")
    // the DPP-filtering side stays the minimal (q_id, cell) projection;
    // the residual tables read a separate instance that also carries
    // the query vector and the probed centroid
    val probes = broadcast(probeCells(q0, cents).select(col("q_id"), col("cell")))
    val probesC = probeCells(q0, cents).select(col("q_id"), col("qv"), col("cell"), col("cv"))
    // the relation the lookup tables read, its keys, the query vector
    val (src, keys, qExpr) = enc match {
      case "c" => (q0, Seq("q_id"), "qv")
      case "r" => (probesC, Seq("q_id", "cell"), "graft_sub(qv, cv)")
      case "o" =>
        // the stored rotation flattens to the row-major dyadic matrix
        // (the q288 idiom) and rides the broadcast probe relation
        val rflat = s.read.parquet(s"$root/rot")
          .agg(array_sort(collect_list(struct(col("i"), col("j"), col("q")))).as("rs"))
          .select(expr(s"transform(rs, x -> CAST(x.q AS DOUBLE) / $PCA_SCALE.0)")
            .as("rflat"))
        (probesC.crossJoin(broadcast(rflat)), Seq("q_id", "cell"),
          "graft_matvec(rflat, graft_sub(qv, cv))")
    }
    // ONE cell-joined scan carries vec_id AND the codes — a separate
    // codes read joined on vec_id would scan every cell partition
    val joined = s.read.parquet(s"$root/codes").join(probes, Seq("cell"))
    val cand0 = if (selfExclude) joined.filter(col("q_id") =!= col("vec_id"))
                else joined
    (adcScores(cand0, adcTables(src, keys, qExpr, cbs, enc), keys, enc),
     cand0.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand")))
  }

  /** The IVFADC serving tier (q263 corpus probes, q286 external
    * queries, q294 on the OPQ-rotated residual store): the
    * [[ivfadcCandidates]] scores, the 50-deep ADC shortlist, its exact
    * re-rank by id-fetch (≤50 vectors per query) and the top-5
    * readout with the per-query scan count.
    */
  private def ivfadcServe(s: SparkSession, d: String, q0: DataFrame,
                          selfExclude: Boolean, enc: String): DataFrame = {
    val (candAdc, nCand) = ivfadcCandidates(s, d, q0, selfExclude, enc)
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("id2"))
    val short50 = candAdc
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= 50)
      .join(broadcast(nCand), Seq("q_id"))
      .select(col("q_id"), col("id2"), col("n_cand"))
    val qq = broadcast(q0.withColumn("qq", expr("graft_dot(qv, qv)")))
    val c = T.embeddings(s, d).select(col("vec_id").as("id2"), col("embedding").as("v2"))
    val wEx = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("id2"))
    c.join(broadcast(short50.join(qq, Seq("q_id"))), Seq("id2"))
      .withColumn("d2",
        expr("qq - 2 * graft_dot(qv, v2) + graft_dot(v2, v2)"))
      .withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("n_cand"), col("rn"),
              col("id2").as("neighbor_id"), round(col("d2"), 4).as("l2_4"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** The recall tail of every ADC audit (q260, q261, q264, q266,
    * q288, q295): rank the scored candidates (q_id, id2, adc) by
    * (adc, id2), keep the ADC top-5 and the 50-shortlist, re-rank the
    * shortlist exactly in RAW space, and count both tiers' overlap
    * with the exact top-5 of the corpus queries vec_id < 5 (self
    * excluded). The IVF tiers' per-query candidate count `nCand`
    * (q_id, n_cand), when given, leads the summary.
    */
  private def adcRecall(s: SparkSession, d: String, cand: DataFrame,
                        nCand: Option[DataFrame] = None): DataFrame = {
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("id2"))
    val ranked = cand.withColumn("rn", row_number().over(wAdc))
    val topAdc = ranked.filter(col("rn") <= 5).select(col("q_id"), col("id2"))
    val short50 = ranked.filter(col("rn") <= 50).select(col("q_id"), col("id2"))
    val ef = T.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      .withColumn("sq", expr("graft_dot(v, v)"))
    val q = broadcast(ef.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("sq").as("qq")))
    val c = ef.select(col("vec_id").as("id2"), col("v").as("v2"), col("sq").as("s2"))
    val wEx = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("id2"))
    val topEx = q.join(c, col("q_id") =!= col("id2"))
      .withColumn("d2", expr("qq - 2 * graft_dot(qv, v2) + s2"))
      .withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= 5)
      .select(col("q_id").as("fq"), col("id2").as("fid"))
    // two-stage tier: exact distances on the 50-deep shortlist only
    val rerank = c.join(broadcast(short50.join(broadcast(q), Seq("q_id"))),
        Seq("id2"))
      .withColumn("d2", expr("qq - 2 * graft_dot(qv, v2) + s2"))
      .withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= 5).select(col("q_id"), col("id2"))
    def overlap(top: DataFrame, n: String) =
      top.join(broadcast(topEx),
          col("q_id") === col("fq") && col("id2") === col("fid"), "left")
        .groupBy(col("q_id")).agg(count(col("fid")).as(n))
    val ovAdc = overlap(topAdc, "n_overlap_adc")
    nCand.fold(ovAdc)(_.join(ovAdc, Seq("q_id")))
      .join(overlap(rerank, "n_overlap_rerank"), Seq("q_id"))
      .select(Seq(col("q_id")) ++ nCand.map(_ => col("n_cand")) ++ Seq(
        col("n_overlap_adc"), (col("n_overlap_adc") * 2000).as("recall_adc_bp"),
        col("n_overlap_rerank"),
        (col("n_overlap_rerank") * 2000).as("recall_rerank_bp")): _*)
      .orderBy(col("q_id"))
  }

  /** The full-corpus PQ recall audit (q260 over the stored raw
    * encoding, q266/q288 over codes trained on a rotated corpus):
    * per-query raw lookup tables from `q0` (q_id, qv), ADC over every
    * code row of `codes` (self excluded), then the [[adcRecall]] tail.
    */
  private def pqScanRecall(s: SparkSession, d: String, q0: DataFrame,
                           codes: DataFrame, cbs: DataFrame): DataFrame =
    adcRecall(s, d,
      adcScores(codes, adcTables(q0, Seq("q_id"), "qv", cbs, "c"), Seq("q_id"), "c")
        .filter(col("q_id") =!= col("id2")))

  /** Newton–Schulz iterations for the OPQ Procrustes step (q287) —
    * fixed count. With the ε·R0 completion lifting σ_min to ~0.06
    * (see [[opqRotation]]), float NS reaches machine precision by
    * ~iteration 16 (measured); 16 leaves headroom (converged by 12, measured float and fixed-point) and each iteration
    * is two 64×64 integer matmuls — negligible at any corpus size.
    * The fixed-point chain's residual floor is set by the 2^-20
    * truncation, audited in VectorOpsSpec.
    */
  val OPQ_NS_ITERS = 16

  /** Sign-split integer renorm division: truncation toward zero on
    * BOTH engines whatever their native `div`/`//` rounding is (the
    * q267 idiom — DuckDB-version-proof).
    */
  private def sdiv(num: String, den: Long): Column =
    expr(s"CAST(sign($num) AS BIGINT) * (abs($num) div ${den}L)")

  /** One fixed-point Newton–Schulz step toward the orthogonal polar
    * factor: X ← X(3I − XᵀX)/2, on (i, j, q) relations at scale
    * S = 2^20 (q ≈ S·X_ij). All products are exact BIGINT (|q| ≤ ~2S
    * throughout, so Σ₆₄ q·q ≤ 2^48); the two renorm divisions
    * truncate identically on both engines via [[sdiv]]. Package-
    * private so the plan audit can pin the step directly (the chain
    * checkpoints every iteration).
    */
  private[graft] def nsStep(x: DataFrame): DataFrame = {
    val S = PCA_SCALE
    // both join sides are 64×64 matrices — broadcast the right side so
    // the only exchanges are the two matrix-keyed partial-agg rollups
    // (without the hint the LogicalRDD's default stats force sort-merge
    // joins — extra exchanges + sorts per iteration; measured
    // wall-NEUTRAL at sf0.1, where the loop cost is checkpoint and
    // task-scheduling overhead, but a 64-row relation should never
    // plan a sort-merge join and the shape matters on a real cluster)
    val b = x.select(col("i").as("l"), col("j").as("bi"), col("q").as("q1"))
      .join(broadcast(x.select(col("i").as("l"), col("j").as("bj"), col("q").as("q2"))), Seq("l"))
      .groupBy(col("bi"), col("bj")).agg(sum(col("q1") * col("q2")).as("p"))
      .select(col("bi"), col("bj"), sdiv("p", S).as("bq"))
    val c = b.select(col("bi").as("l"), col("bj").as("cj"),
      (when(col("bi") === col("bj"), lit(3L * S)).otherwise(lit(0L)) - col("bq")).as("c"))
    x.select(col("i"), col("j").as("l"), col("q").as("q1"))
      .join(broadcast(c), Seq("l"))
      .groupBy(col("i"), col("cj")).agg(sum(col("q1") * col("c")).as("p"))
      .select(col("i"), col("cj").as("j"), sdiv("p", 2 * S).as("q"))
  }

  /** The OPQ cross-covariance M_ij = Σ_n ŷ_n[i]·x_n[j] (q287's one
    * corpus pass), CHECKPOINTED — package-private so the spec can
    * audit the quantization boundary margins and the plan audit can
    * pin the (i, j)-keyed partial aggregation directly. ŷ = concat of
    * assigned codewords, built map-side from 4 broadcast codebook
    * joins; the only corpus-keyed exchange is ONE vec_id join of two
    * array rows, then 4096 products per vector explode map-side into
    * (i, j)-keyed partials — the q276 Gram-pass shape.
    */
  private[graft] def opqCrossCov(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorKernels.ensureRegistered(s)
    val er = rotated(s, d).localCheckpoint(true)
    val slices = pqSubSlices(er)
    val erT = trainSample(er, T.embeddings(s, d).count(), PQ_K)
    val cbF = kmeansCentroidsFused(erT, pqSubSlices(erT), k = PQ_K, iters = PQ_ITERS)
    val codes = pqCodesFused(slices, cbF)
    val cbs = (0 until PQ_M).map(sb => broadcast(cbF.filter(col("sub") === sb)
      .select(col("cell").cast("byte").as(s"c$sb"), col("cv").as(s"cv$sb"))))
    val y64 = codes.join(cbs(0), Seq("c0")).join(cbs(1), Seq("c1"))
      .join(cbs(2), Seq("c2")).join(cbs(3), Seq("c3"))
      .select(col("vec_id"), expr("concat(cv0, cv1, cv2, cv3)").as("y"))
    y64
      .join(T.embeddings(s, d).select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(posexplode(col("y")).as(Seq("pi", "yv")), col("embedding"))
      .select((col("pi") + 1).as("i"), col("yv"), posexplode(col("embedding")))
      .select(col("i"), (col("pos") + 1).as("j"),
        (col("yv") * col("col").cast("double")).as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("m"))
  }

  /** Per-JVM memo of the TRAINED rotation (the [[ensureIvfadcIndex]]
    * posture — train once, serve many: q288 otherwise re-runs q287's
    * whole chain). The value is the plain 4096-entry matrix, NOT a
    * DataFrame — Bench sweeps persistent RDDs between timed runs, so
    * a cached checkpointed frame would not survive, and a 64×64 model
    * is parameter-sized driver data by any standard. The key carries
    * the shuffle-partition conf so the layout-invariance spec (which
    * varies it) still exercises real recomputation.
    */
  private val opqMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Int, Long)]]()

  private[graft] def opqRotation(s: SparkSession, d: String): DataFrame = {
    val key = new java.io.File(d).getAbsolutePath + "#" +
      s.conf.get("spark.sql.shuffle.partitions")
    val rows = opqMemo.computeIfAbsent(key, _ =>
      opqRotationCompute(s, d).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))))
    import s.implicits._
    rows.toSeq.toDF("i", "j", "q")
  }

  /** The OPQ-NP trained rotation chain (q287/q288) — see the q287
    * entry comment for the construction. Returns (i, j, q): the
    * 64×64 rotation R1 in 2^20 fixed point, row-major 1-based dims.
    * Engine-stability ledger: the PQ codes are discrete (argmin
    * margins audited); Ŷ and M are doubles whose partial sums merge
    * in engine order, absorbed by the ONE quantization boundary
    * (floor(M·2^(20−k))) whose margins the spec audits (the q285
    * pattern); k itself derives from bin(ceil(‖M‖_F)) — an integer
    * crossing audited the same way; everything after ns0 is exact
    * BIGINT arithmetic, bit-identical at any partition count.
    */
  private def opqRotationCompute(s: SparkSession, d: String): DataFrame = {
    // checkpointed HERE (not in opqCrossCov, whose lazy plan the
    // audits inspect): kRel and a0 both consume it
    val m = opqCrossCov(s, d).localCheckpoint(true)
    // power-of-two Frobenius normalization: 2^k ≥ ‖M‖_F via the bit
    // length of ⌈‖M‖_F⌉ — no log2 (whose last-ulp could differ across
    // engines near an integer); σ_max(M/2^k) ≤ ‖M‖_F/2^k ≤ 1 < √3,
    // the Newton–Schulz convergence domain
    val kRel = m.agg(expr("CAST(ceil(sqrt(sum(m * m))) AS BIGINT)").as("f"))
      .select(length(expr("bin(f)")).as("k"))
    // ε·R0 null-space completion (measured necessity: on the synthetic
    // corpus M is rank-deficient — 14 singular values < 0.01, σ_min ≈
    // 4e-8 — because the PQ centroids cluster near the data mean, so
    // the polar factor is ill-defined in the null directions and bare
    // NS crawls there at ×1.5/iter from 4e-8). Any orthogonal
    // completion of those zero-signal directions is Procrustes-optimal;
    // adding ε·R0 (ε = 1/16, R0 = the H·D init) picks the one nearest
    // the initialization and lifts σ_min to ~0.06 (measured), inside
    // NS's fast-convergence regime. ε·R0's fixed-point image is
    // EXACTLY ±2^20/(16·8) = ±8192 — an exact integer on both
    // engines, no new quantization boundary.
    val prior = (when(expr("bit_count((i - 1) & (j - 1)) % 2 = 0"), lit(1L))
      .otherwise(lit(-1L)) *
      element_at(typedlit(hdSigns.toSeq), col("j").cast("int")).cast("long") *
      lit(8192L))
    val a0 = m.crossJoin(broadcast(kRel))
      .select(col("i"), col("j"),
        (expr("CAST(floor(m * pow(2.0, 20 - k)) AS BIGINT)") + prior).as("q"))
      .localCheckpoint(true)
    var x = a0
    for (_ <- 1 to OPQ_NS_ITERS) {
      val cp = nsStep(x).localCheckpoint(true)
      // localCheckpoint truncates LINEAGE but copies the origin
      // plan's ESTIMATED sizeInBytes into the LogicalRDD, and
      // nsStep's self-joins CUBE that estimate — 3^16 compounding
      // had the optimizer multiplying million-digit BigInts by
      // iteration 12 (measured: ns12 alone 100 s of driver CPU in
      // the stats visitor). Rebuilding the frame over the
      // checkpointed rows resets the estimate to the default.
      x = s.createDataFrame(cp.rdd, cp.schema)
    }
    x
  }

  /** The rotated-space ADC recall audit shared by q266 (fixed H·D
    * rotation) and q288 (trained OPQ rotation): PQ codebooks trained
    * on the supplied ROTATED corpus `er` (checkpointed by the
    * caller), queries rotate with the corpus (er rows vec_id < 5),
    * ADC candidates and lookup tables in rotated space; the exact
    * reference top-5 and the 50-deep re-rank run in RAW space —
    * exact for q266's isometry, and for q288 an audited
    * near-isometry (recall is measured against raw exact truth
    * whatever the rotation is).
    */
  private def adcRecallOverRotated(s: SparkSession, d: String, er: DataFrame): DataFrame = {
    val erT = trainSample(er, T.embeddings(s, d).count(), PQ_K)
    val cbF = kmeansCentroidsFused(erT, pqSubSlices(erT), k = PQ_K, iters = PQ_ITERS)
    val q0 = er.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
    pqScanRecall(s, d, q0, pqCodesFused(pqSubSlices(er), cbF), cbF)
  }

  val queries: Map[String, Q] = Map(
    // Label-blocked near-duplicate pairs by cosine ≥ 0.35 — enumerated
    // through the chunked triangle join so a dominant label stays
    // distributed (chunkSize 64 exercises the multi-chunk path on the
    // test corpus; at 100 TB pick chunkSize ≈ sqrt of the per-task
    // pair budget).
    "q64_embedding_neardup" -> ((s, d) => {
      chunkedPairs(emb(s, d), chunkSize = 64)
        .filter(col("cos") >= 0.35)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("id1"), col("id2"))
    }),

    // Brute-force cosine top-k (k=5) for queries vec_id < 5, self
    // excluded. Query side broadcast; row_number prunes per query.
    "q65_ann_topk_bruteforce" -> ((s, d) => {
      val e = emb(s, d)
      val q = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
      val c = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id2"))
      q.join(c, col("q_id") =!= col("id2"))
        .withColumn("cos", dot("qv", "v2") / (col("qn") * col("n2")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("id2").as("neighbor_id"),
                round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Matryoshka truncation recall — the dimension-vs-recall curve
    // that decides how far an MRL-style embedding can be cut before
    // retrieval degrades (truncating to the first m dims is the
    // standard storage/latency dial; this measures what it costs).
    // For q65's probe set: exact top-5 under the full 64 dims vs
    // under the 8/16/32-dim prefixes, overlap counted per (probe,
    // dim). The dim variants are a 4-way union of PROJECTIONS (slice
    // is map-side; no extra scan — Spark reads the parquet once per
    // branch of the union, each a column-pruned scan), and each
    // (probe, dim) ranking is the q65 broadcast-probe shape. recall
    // ships as exact integer basis points (multiples of 2000).
    "q231_matryoshka_recall" -> ((s, d) => {
      val e = emb(s, d)
      val variants = Seq(8, 16, 32, 64).map { dm =>
        e.select(lit(dm).as("dim"), col("vec_id"),
                 slice(col("v"), 1, dm).as("vd"))
      }.reduce(_ unionByName _)
        .withColumn("nd", sqrt(expr("graft_dot(vd, vd)")))
      val q = broadcast(variants.filter(col("vec_id") < 5)
        .select(col("dim").as("qdim"), col("vec_id").as("q_id"),
                col("vd").as("qv"), col("nd").as("qn")))
      val c = variants.select(col("dim"), col("vec_id").as("id2"),
                              col("vd").as("v2"), col("nd").as("n2"))
      val w = Window.partitionBy(col("q_id"), col("dim"))
        .orderBy(col("cos").desc, col("id2"))
      val top = q.join(c, col("qdim") === col("dim") && col("q_id") =!= col("id2"))
        .withColumn("cos", dot("qv", "v2") / (col("qn") * col("n2")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("dim"), col("id2"))
      val full = top.filter(col("dim") === 64)
        .select(col("q_id").as("fq"), col("id2").as("fid"))
      top.filter(col("dim") =!= 64)
        .join(broadcast(full),
          col("q_id") === col("fq") && col("id2") === col("fid"), "left")
        .groupBy(col("q_id"), col("dim"))
        .agg(count(col("fid")).as("n_overlap"))
        .select(col("q_id"), col("dim").cast("long").as("dim"),
          col("n_overlap"),
          (col("n_overlap") * 2000).as("recall_bp"))
        .orderBy(col("q_id"), col("dim"))
    }),

    // IVF approximate top-k: nlist = ⌈√N⌉ centroids (see [[ivfNlist]])
    // learned by label-free deterministic kmeans, corpus indexed by
    // nearest centroid, each query probes its nprobe=4 closest cells
    // and searches exactly within them. At 100 TB the corpus is
    // partitioned by cell, so a query touches nprobe partitions —
    // ≈ 4N/√N = 4√N rows — instead of all data, and the index build
    // (assignCells) is a broadcast + one keyed shuffle.
    "q66_ann_topk_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count(); val k = ivfNlist(n)
      val cent = kmeansCentroids(trainSample(e, n, k), k = k, iters = 4)
      val corpus = assignCells(e, cent)
      val q = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      // nprobe=4 nearest centroids per query (|Q|·k rows, both bounded)
      val wProbe = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
      val probes = broadcast(q.crossJoin(broadcast(cent))
        .withColumn("ccos", dot("qv", "cv") / (col("qn") * col("cn")))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= 4)
        .select(col("q_id"), col("qv"), col("qn"), col("cell")))
      val c = corpus.select(col("vec_id").as("id2"), col("cell").as("cell2"),
                            col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id2"))
      probes.join(c, col("cell") === col("cell2") && col("q_id") =!= col("id2"))
        .withColumn("cos", dot("qv", "v2") / (col("qn") * col("n2")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("id2").as("neighbor_id"),
                round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // LSH-bucketed approximate top-k — the OTHER scale path next to
    // q66's IVF, mirroring the text tiers' banding: an 8-bit
    // random-hyperplane signature buckets the corpus (one projection —
    // 8 codegen'd graft_dot's against literal seed planes), queries
    // multiprobe every bucket within hamming distance 2 (1+8+28 = 37
    // of 256 buckets — the standard multiprobe trade: more probes per
    // query instead of more index copies), and the exact cosine runs
    // on candidates only. At 100 TB the corpus is written partitioned
    // by sig, so a query touches 37 buckets (~14% of the space)
    // instead of all data; the probe relation is |Q|·37 rows and
    // broadcasts. Deterministic end to end (fixed-seed planes, md5-free
    // integer probes), so fully oracle-checked since round 8 — the
    // DuckDB SQL recomputes the signatures from embedded plane literals
    // and takes hamming-2 candidates via bit_count(xor); recall vs the
    // q65 ground truth stays spec-asserted.
    "q118_ann_topk_lsh" -> ((s, d) => {
      val e = emb(s, d)
      val sigd = e.withColumn("sig", rhSignature(col("v")))
      val probes = broadcast(
        sigd.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
                  col("nrm").as("qn"), col("sig"))
          .withColumn("psig", explode(array(
            col("sig") +:
              (0 until RH_BITS).map(h => col("sig").bitwiseXOR(lit(1 << h))) ++:
              (for (i <- 0 until RH_BITS; j <- i + 1 until RH_BITS)
                yield col("sig").bitwiseXOR(lit((1 << i) | (1 << j)))): _*))))
      val c = sigd.select(col("vec_id").as("id2"), col("sig").as("sig2"),
                          col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id2"))
      probes.join(c, col("psig") === col("sig2") && col("q_id") =!= col("id2"))
        .withColumn("cos", dot("qv", "v2") / (col("qn") * col("n2")))
        // probe sigs are pairwise distinct per query and a candidate has
        // ONE sig, so each (q_id, id2) pair matches at most once — no
        // dedup stage needed before the top-k window
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("id2").as("neighbor_id"),
                round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Int8 scalar quantization of the embedding corpus — the storage
    // path a 100 TB vector store actually ships (4× smaller than
    // float32, dequantized on read). Per-dimension affine codes:
    // code = trunc((v - mn_d) / (mx_d - mn_d) * 255). Plan shape: one
    // dim-keyed partial-aggregable min/max (dim rows — a broadcast
    // dimension), joined back broadcast, then a single corpus pass; the
    // per-vector rollup reports the exact integer code sum and the max
    // reconstruction error. All arithmetic is IEEE double on both
    // engines (floats widened before any op), trunc of a non-negative
    // value = floor, so the codes are engine-exact.
    "q105_embedding_quantize" -> ((s, d) => {
      val e = T.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "vf")))
        .select(col("vec_id"), (col("p") + 1).as("i"), col("vf").cast("double").as("v"))
      val st = e.groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      e.join(broadcast(st), "i")
        .withColumn("code",
          floor(when(col("mx") > col("mn"),
            (col("v") - col("mn")) / (col("mx") - col("mn")) * 255.0)
            .otherwise(0.0)).cast("int"))
        .groupBy(col("vec_id"))
        .agg(sum(col("code")).as("sum_code"),
             round(max(abs(col("v") -
               (col("mn") + col("code") * (col("mx") - col("mn")) / 255.0))), 6)
               .as("max_abs_err"))
        .orderBy(col("vec_id"))
    }),

    // Semantic near-dup canonicalization — the embedding-tier twin of
    // q67/q69: within-label cosine pairs at 0.35 (the chunked triangle
    // join bounds per-task pair work; q64's substrate) → distributed
    // connected components → cluster-minimum canonical ids. This is
    // "semantic dedup" as a single catalog entry: the text tiers catch
    // lexical twins, this catches embedding-space twins.
    "q106_semantic_canonical" -> ((s, d) => {
      val pairs = chunkedPairs(emb(s, d), chunkSize = 64)
        .filter(col("cos") >= 0.35)
        .select(col("id1"), col("id2"))
      graft.functions.Components.connectedComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("canonical_id"))
        .orderBy(col("vec_id"))
    }),

    // Semantic source-affinity matrix — the embedding-space twin of
    // q116's lexical source similarity: pairwise cosine between
    // per-label CENTROIDS (mean embeddings). The corpus collapses to
    // |labels|·dim centroid cells in one partial-aggregable
    // (label, dim) avg — the shuffle carries map-side partials, never
    // rows — and everything after runs on broadcast-sized relations
    // (≤ |labels|² cells). This is the mixture-design diagnostic for
    // "are two sources semantically interchangeable" that q116
    // answers lexically. Centroid sums are order-dependent doubles;
    // the final cosine rounds to 4 (the documented noisy-double
    // discipline).
    "q124_semantic_source_affinity" -> ((s, d) => {
      val e = T.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("p", "vf")))
        .select(col("label"), (col("p") + 1).as("i"),
                col("vf").cast("double").as("v"))
      val cent = e.groupBy(col("label"), col("i")).agg(avg(col("v")).as("cv"))
      val sizes = T.embeddings(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
      val norms = cent.groupBy(col("label")).agg(sum(col("cv") * col("cv")).as("m"))
      cent.select(col("label").as("l1"), col("i"), col("cv").as("v1"))
        .join(cent.select(col("label").as("l2"), col("i"), col("cv").as("v2")), Seq("i"))
        .filter(col("l1") < col("l2"))
        .groupBy(col("l1"), col("l2"))
        .agg(sum(col("v1") * col("v2")).as("dot"))
        .join(broadcast(sizes.select(col("label").as("l1"), col("n").as("n1"))), Seq("l1"))
        .join(broadcast(sizes.select(col("label").as("l2"), col("n").as("n2"))), Seq("l2"))
        .join(broadcast(norms.select(col("label").as("l1"), col("m").as("m1"))), Seq("l1"))
        .join(broadcast(norms.select(col("label").as("l2"), col("m").as("m2"))), Seq("l2"))
        .select(col("l1"), col("l2"), col("n1"), col("n2"),
          round(col("dot") / (sqrt(col("m1")) * sqrt(col("m2"))), 4).as("cos4"))
        .orderBy(col("l1"), col("l2"))
    }),

    // Intra-label semantic dispersion — the diversity signal
    // SemDeDup-style selection ranks clusters by: how tightly does
    // each label hug its own centroid (avg + min member-to-centroid
    // cosine). A tight label is redundant (sample it down); a loose
    // one is diverse. Plan shape: the (label, dim) centroid avg is
    // partial-aggregable; the centroid relation (|labels|·dim rows)
    // joins back BROADCAST on (label, i); the member dot is one
    // vec-keyed agg and the rollup is |labels| rows. The corpus is
    // touched twice (centroid pass + scoring pass), shuffles only
    // carry partials, and nothing is ever quadratic.
    "q126_semantic_dispersion" -> ((s, d) => {
      val e = T.embeddings(s, d)
        .select(col("vec_id"), col("label"),
                posexplode(col("embedding")).as(Seq("p", "vf")))
        .select(col("vec_id"), col("label"), (col("p") + 1).as("i"),
                col("vf").cast("double").as("v"))
      val cent = e.groupBy(col("label"), col("i")).agg(avg(col("v")).as("cv"))
      val perVec = e.join(broadcast(cent), Seq("label", "i"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("v") * col("cv")).as("dot"),
             sum(col("v") * col("v")).as("vn2"),
             sum(col("cv") * col("cv")).as("cn2"))
        .withColumn("cos", col("dot") / (sqrt(col("vn2")) * sqrt(col("cn2"))))
      perVec.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             round(avg(col("cos")), 4).as("avg_cos4"),
             round(min(col("cos")), 4).as("min_cos4"))
        .orderBy(col("label"))
    }),

    // Hard-negative mining — the contrastive-training data generator:
    // for each query vector, the top-3 most similar vectors from a
    // DIFFERENT label (high-cosine cross-label neighbors are the
    // hard negatives a retrieval trainer wants). Same scale shape as
    // q65: bounded query set broadcasts, the corpus streams through
    // one pass, per-query top-k prunes via window; the label
    // inequality is just one more join predicate — never a second
    // pass or a label shuffle.
    "q127_hard_negatives" -> ((s, d) => {
      val e = emb(s, d)
      val q = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("label").as("q_lab"),
                col("v").as("qv"), col("nrm").as("qn")))
      val c = e.select(col("vec_id").as("id2"), col("label").as("lab2"),
                       col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id2"))
      q.join(c, col("q_lab") =!= col("lab2"))
        .withColumn("cos", dot("qv", "v2") / (col("qn") * col("n2")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("id2").as("neg_id"),
                round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Embedding neighborhood purity — the label-agreement@k quality
    // metric for an embedding space (the "is this embedding worth
    // clustering on" gate run before semantic dedup / mixing): for a
    // deterministic ~2% probe sample (md5 coin — the oracle replays
    // it), the fraction of each probe's 5 nearest neighbors (exact
    // cosine) sharing its label, rolled up per label. Same
    // broadcast-probes shape as q65: cost is |probes|·n dot products
    // with NO corpus shuffle — the probe rate is the dial (at 100 TB
    // you also swap the exact scan for the q66 IVF tier; the metric's
    // estimator is unchanged).
    "q207_embedding_purity" -> ((s, d) => {
      val e = emb(s, d)
      val probes = broadcast(e
        .filter(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_lab"),
                col("v").as("qv"), col("nrm").as("qn")))
      val c = e.select(col("vec_id").as("id2"), col("label").as("lab2"),
                       col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id2"))
      probes.join(c, col("q_id") =!= col("id2"))
        .withColumn("cos", dot("qv", "v2") / (col("qn") * col("n2")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("q_lab"))
        .agg(countDistinct(col("q_id")).as("n_probes"),
             sum(when(col("lab2") === col("q_lab"), 1L).otherwise(0L)).as("n_hits"))
        .select(col("q_lab").as("label"), col("n_probes"), col("n_hits"),
          expr("(1000000 * n_hits) div (5 * n_probes)").as("purity_ppm"))
        .orderBy(col("label"))
    }),

    // Embedding dimension redundancy — the OFF-diagonal companion to
    // q196's per-dim variance audit: pairwise Pearson correlation
    // between the 8 widest dimensions (selection by exact data-value
    // RANGE, not by variance — ranges are exact floats both engines
    // order identically, where near-tied noisy variances could swap
    // ranks 8/9 across engines). High |corr| pairs mean the embedding
    // wastes capacity — the signal behind dropping/rotating dims
    // before an ANN index build. The selection semi-join cuts the
    // exploded relation to 8/64 before the only vec-keyed shuffle;
    // the pair grid is 28 cells however large the corpus.
    "q238_embedding_redundancy" -> ((s, d) => {
      val e = T.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "vf")))
        .select(col("vec_id"), (col("p") + 1).as("dim"), col("vf").cast("double").as("v"))
      val rng = e.groupBy(col("dim")).agg((max(col("v")) - min(col("v"))).as("rg"))
      val top8 = broadcast(rng.orderBy(col("rg").desc, col("dim")).limit(8)
        .select(col("dim")))
      val sel = e.join(top8, "dim")
      val a = sel.select(col("vec_id"), col("dim").as("di"), col("v").as("vi"))
      val b = sel.select(col("vec_id").as("vid2"), col("dim").as("dj"), col("v").as("vj"))
      a.join(b, col("vec_id") === col("vid2") && col("di") < col("dj"))
        .groupBy(col("di").cast("long").as("di"), col("dj").cast("long").as("dj"))
        .agg(count(lit(1)).as("n"), round(corr(col("vi"), col("vj")), 4).as("corr4"))
        .orderBy(col("di"), col("dj"))
    }),

    // Embedding dimension health audit (the drift/collapse diagnostic
    // run before training on an embedding column): per-dimension mean,
    // spread, exact envelope, and share of total variance — a
    // near-zero sigma flags a dead dimension, a dominant var_share
    // flags anisotropic collapse. Plan: posexplode is a projection
    // (no shuffle) and the agg keys on the 64-value dim — but unlike
    // a window, a LOW-CARDINALITY GROUP BY is scale-safe: partial
    // aggregation collapses each map partition to ≤64 cells before
    // the exchange, so the shuffle carries P·64 partials, never rows.
    // mu/sigma are order-dependent double sums → rounded (the
    // documented noisy-double discipline); min/max are exact data
    // values and ship unrounded.
    "q196_embedding_dim_stats" -> ((s, d) => {
      val e = T.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("p", "vf")))
        .select((col("p") + 1).as("dim"), col("vf").cast("double").as("v"))
      val st = e.groupBy(col("dim"))
        .agg(count(lit(1)).as("n_vals"),
             avg(col("v")).as("mu0"),
             avg(col("v") * col("v")).as("m2"),
             min(col("v")).as("v_min"),
             max(col("v")).as("v_max"))
        .withColumn("var0",
          greatest(col("m2") - col("mu0") * col("mu0"), lit(0.0)))
      val tot = st.agg(sum(col("var0")).as("tvar"))
      st.crossJoin(broadcast(tot))
        .select(col("dim"), col("n_vals"),
          round(col("mu0"), 5).as("mu"),
          round(sqrt(col("var0")), 5).as("sigma"),
          col("v_min"), col("v_max"),
          round(col("var0") / col("tvar") * 100, 2).as("var_share_pct"))
        .orderBy(col("dim"))
    }),

    // IVF cell audit — the round-8 promotion of q66's spec-only
    // contract toward the SQL gate: everything UP TO the probe choice
    // (md5-coin init, 4 unrolled Lloyd iterations, final nearest-cell
    // assignment) is deterministic and SQL-expressible, so the
    // per-cell census (size + centroid norm) gets a DuckDB oracle
    // that replays the whole iteration. Discrete argmin on double
    // distances is engine-stable because cell margins are O(1) while
    // cross-engine sum-order drift is O(ulp); the rounded norm
    // absorbs the continuous part. (The same chain now also powers
    // q66's own full oracle.)
    "q257_ivf_cell_audit" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count(); val k = ivfNlist(n)
      val cent = kmeansCentroids(trainSample(e, n, k), k = k, iters = 4)
      val counts = assignCells(e, cent)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      cent.join(counts, Seq("cell"), "left_outer")
        .select(col("cell").cast("long").as("cell"),
                coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
                round(col("cn"), 4).as("cn4"))
        .orderBy(col("cell"))
    }),

    // Bounded-sample Lloyd training under a BINDING cap (round-12,
    // this session): the production dial (ivfTrainCap=256, the FAISS
    // max_points_per_centroid default every trainer in this file now
    // rides) only binds above cap·k vectors, so this tier forces
    // cap=4 — at sf0.01 that is a 101-of-500 training sample — and
    // oracle-checks that BOTH engines draw the identical
    // hash-threshold sample, fit the identical centroids on it, and
    // assign the identical FULL corpus. Census = per-cell total
    // members, train-sample members, and centroid norm. The sample is
    // a pure map-side md5-prefix filter (trainPred) — no global sort,
    // no single-task top-S — so drawing it costs one scan at any N.
    "q289_ivf_sampled_train" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count(); val k = ivfNlist(n); val cap = 4
      val cent = kmeansCentroids(trainSample(e, n, k, cap), k = k, iters = 4)
      val counts = assignCells(e, cent)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"),
          sum(when(trainPred(n, k, cap), 1L).otherwise(0L)).as("n_train"))
      cent.join(counts, Seq("cell"), "left_outer")
        .select(col("cell").cast("long").as("cell"),
                coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
                coalesce(col("n_train"), lit(0L)).as("n_train"),
                round(col("cn"), 4).as("cn4"))
        .orderBy(col("cell"))
    }),

    // Two-level (hierarchical) IVF assignment — the answer to the one
    // remaining N·nlist term: after bounded-sample training (q289) the
    // build's dominant cost is the full-corpus nearest-cell assignment
    // (N·√N distance rows at the default sizing). A super-quantizer
    // over the CENTROIDS (k2 = ⌈√nlist⌉ super-cells, trained on nlist
    // rows — corpus-size-free) routes each vector to its
    // 2 nearest super-cells (the quantizer-level nprobe), then argmins
    // only over those supers' child cells:
    // ≈ N·(√nlist + 2·nlist/k2) ≈ 3N·√nlist rows — N^1.25 end to end
    // instead of N^1.5. The FAISS analog is the HNSW coarse quantizer
    // on IndexIVF. The approximation is real (the true nearest cell
    // can live under an unprobed super-cell), so the tier publishes
    // its own agreement audit: per-cell counts under BOTH assignments
    // plus the match count, fully oracle-checked. Scale shapes: both
    // argmins are the partial-aggregable min(struct) groupBy, the
    // routing table and child-cell map are broadcast (nlist rows).
    "q290_ivf_two_level_assign" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count(); val k = ivfNlist(n)
      val cent = kmeansCentroids(trainSample(e, n, k), k = k, iters = 4)
      // super-quantizer trained on the centroid set itself (nlist
      // rows) inside twoLevelAssign. Deliberate trainSample EXEMPTION
      // (the CLAUDE.md every-Lloyd rule): that training relation is
      // the CENTROID set — corpus-size-free by construction (nlist
      // rows however big N gets), so the FAISS per-centroid cap has
      // nothing to bound; the DuckDB super chain (superChainBody) is
      // correspondingly unfiltered. Filtering one side only would
      // break oracle agreement — keep BOTH unfiltered. Since round 13
      // the assignment itself is the shared [[twoLevelAssign]] — the
      // relation the SPARK_GRAFT_IVF_TWOLEVEL build dial routes
      // ensureIvfadcIndex through, audited here against the exact
      // argmin.
      val twol = twoLevelAssign(e, cent, ivfK2(k))
        .select(col("vec_id"), col("cell").as("cell2"))
      val exact = assignCells(e, cent).select(col("vec_id"), col("cell").as("cell1"))
      val j = exact.join(twol, Seq("vec_id"))
      val a1 = j.groupBy(col("cell1").as("cell"))
        .agg(count(lit(1)).as("n_exact"),
             sum(when(col("cell1") === col("cell2"), 1L).otherwise(0L)).as("n_match"))
      val a2 = j.groupBy(col("cell2").as("cell")).agg(count(lit(1)).as("n_two_level"))
      cent.select(col("cell")).join(a1, Seq("cell"), "left_outer")
        .join(a2, Seq("cell"), "left_outer")
        .select(col("cell").cast("long").as("cell"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_two_level"), lit(0L)).as("n_two_level"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
        .orderBy(col("cell"))
    }),

    // Product quantization codebook — the vector-compression tier the
    // int8 path (q105) can't reach: m=4 subspaces × 16 dims, each
    // with its own k=16 codebook learned by the SAME deterministic
    // Lloyd kmeans as q66/q257 (md5-coin init, 2 iterations), so a
    // 64-float vector stores as 4 bytes (64× smaller; the
    // Jégou/Douze/Schmid PQ scheme every large vector store ships).
    // Per-subspace cell census (size + codeword norm) — fully
    // oracle-checked (the DuckDB SQL replays all four chains,
    // absolute-dim-indexed so the slices never reindex). Scale shape:
    // 4 independent kmeans chains over 16-dim slices, each the q66
    // broadcast + argmin-groupBy substrate; nothing is ever quadratic.
    "q259_pq_codebook" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      // Round-17 (guide §1.2/§2.4): train all four subspace codebooks
      // in ONE fused Lloyd chain (kmeansCentroidsFused — the round-9
      // machinery the index build already uses) instead of four
      // sequential per-sub chains: each iteration is one corpus pass
      // keyed by (sub, cell) instead of PQ_M passes, and the census is
      // one fused assignment instead of four. Semantics per subspace
      // are the per-sub chains exactly (same md5 seed draw — the
      // trainSample predicate is vec_id-only, so the sample is
      // identical per sub; same argmin tie-break; empty cells keep
      // their codeword); per-group float sums may merge in a different
      // order, absorbed by the same argmin-margin bound the fused
      // index build already rests on — re-gated at all three SFs.
      // Measured (sf0.1, cpus=32, fresh JVM, min of 2, same day):
      // 6.34 → 3.16 s.
      val base = T.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v"))
      val n = base.count()
      val baseT = trainSample(base, n, PQ_K)
      val cbF = kmeansCentroidsFused(baseT, pqSubSlices(baseT),
        k = PQ_K, iters = PQ_ITERS)
      val counts = assignCellsFused(pqSubSlices(base), cbF)
        .groupBy(col("sub"), col("cell")).agg(count(lit(1)).as("n_vecs"))
      cbF.join(counts, Seq("sub", "cell"), "left_outer")
        .select(col("sub").cast("long").as("sub"),
          col("cell").cast("long").as("cell"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          round(sqrt(expr("graft_dot(cv, cv)")), 4).as("cn4"))
        .orderBy(col("sub"), col("cell"))
    }),

    // PQ asymmetric-distance recall audit — does the 4-byte code
    // still rank like the float vector? For queries vec_id < 5, BOTH
    // retrieval tiers are audited against the exact L2 top-5: (a)
    // raw ADC top-5 (per-subspace query→codeword distance TABLE
    // lookup, the standard search path: 4 broadcast joins + a
    // FIXED-ORDER d0+d1+d2+d3 sum, never a per-pair float reduction
    // whose order could drift), and (b) the production two-stage
    // path — ADC top-50 shortlist, exact re-rank on the shortlist
    // only. On near-random synthetic embeddings raw-ADC recall is
    // expectedly low (codes carry 16 bits against 2048); the audit's
    // POINT is measuring exactly that, and how much the re-rank tier
    // recovers. Candidates with EQUAL codes read the identical dq
    // rows, so their ADC ties are exact and break on id —
    // engine-stable; distinct codes differ by O(1) distance. Fully
    // oracle-checked. At 100 TB the codes relation IS the index
    // (n×4 bytes), the dq tables are |Q|·m·k rows however large the
    // corpus, and the exact tier touches 50 vectors per query.
    "q260_pq_adc_recall" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      // serves from the stored index (round-9 follow-up): codebooks
      // and 4-byte codes read from q262's files — only the dq lookup
      // tables compute here. Bits identical to the live chains (the
      // stored index IS their audited output), so the oracle is
      // unchanged.
      val root = ensureIvfadcIndex(s, d)
      pqScanRecall(s, d, corpusQueries(s, d), s.read.parquet(s"$root/codes"),
        s.read.parquet(s"$root/codebooks"))
    }),

    // IVFADC — the canonical production ANN layout (the FAISS
    // default): q66's IVF partition prunes the corpus to nprobe=4
    // cells, q259's PQ codes rank the survivors by ADC, and the
    // two-stage tier exact-re-ranks the 50-deep shortlist. At 100 TB
    // this is THE layout a vector store ships: the corpus is
    // partitioned by cell and stored as 4-byte codes, a query reads
    // nprobe partitions of codes plus ≤50 full vectors. Composed
    // entirely from the two audited substrates, so it too is FULLY
    // oracle-checked; per-query n_cand reports the scan fraction the
    // IVF tier actually pruned to.
    "q261_ivfadc_recall" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      // serves from the stored index (round-9 follow-up): centroids,
      // cell assignment, codebooks and codes all read from q262's
      // files — only the probe ranking and the dq lookup tables
      // compute. Bits identical; oracle unchanged.
      val (cand, nCand) =
        ivfadcCandidates(s, d, corpusQueries(s, d), selfExclude = true, "c")
      adcRecall(s, d, cand, Some(nCand))
    }),

    // LSH bucket audit — q118's promotion twin: the 8-bit
    // random-hyperplane signature is a pure projection against
    // fixed-seed literal planes, so the bucket histogram is
    // SQL-expressible by embedding the 8×64 plane constants in the
    // oracle text (full-precision %.17E literals lex as DOUBLE in
    // DuckDB — never DECIMAL). The sign test is engine-stable for
    // the same margin reason as q257 (gaussian dots are O(1), drift
    // is O(ulp)). (The same chain now also powers q118's own full
    // oracle.)
    "q258_lsh_bucket_audit" -> ((s, d) => {
      val e = emb(s, d)
      e.withColumn("sig", rhSignature(col("v")))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("n_vecs"))
        .select(col("sig").cast("long").as("sig"), col("n_vecs"))
        .orderBy(col("sig"))
    }),

    // IVFADC index BUILD tier (round-9 split of q261): materializes
    // centroids + codebooks + the corpus as 4-byte codes partitioned
    // by IVF cell (see [[ensureIvfadcIndex]]), then audits the STORED
    // bits — the census is computed by reading the codes parquet back,
    // so what the oracle checks is the index a query would serve from,
    // not an in-flight relation. Per cell: size and the four code-sum
    // checksums (a wrong/stale code anywhere moves a sum). The DuckDB
    // oracle replays the q66 cell chain + the q259 code chains and
    // aggregates identically.
    "q262_ivfadc_index_build" -> ((s, d) => {
      val root = ensureIvfadcIndex(s, d)
      // round-13: the census also checksums the RESIDUAL codes (the
      // columns the production q263/q286 tiers now serve from), so a
      // wrong/stale bit in EITHER encoding moves a sum
      s.read.parquet(s"$root/codes")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
             sum(col("c0").cast("long")).as("sum_c0"),
             sum(col("c1").cast("long")).as("sum_c1"),
             sum(col("c2").cast("long")).as("sum_c2"),
             sum(col("c3").cast("long")).as("sum_c3"),
             sum(col("r0").cast("long")).as("sum_r0"),
             sum(col("r1").cast("long")).as("sum_r1"),
             sum(col("r2").cast("long")).as("sum_r2"),
             sum(col("r3").cast("long")).as("sum_r3"))
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
                col("sum_c0"), col("sum_c1"), col("sum_c2"), col("sum_c3"),
                col("sum_r0"), col("sum_r1"), col("sum_r2"), col("sum_r3"))
        .orderBy(col("cell"))
    }),

    // IVFADC QUERY tier (round-9 split of q261): serves top-5 ANN
    // from the STORED index — proving the 100 TB query cost the
    // composed q261 entry only documented. Per query: (1) the
    // stored centroids (an nlist-row parquet read) pick nprobe=4 cells;
    // (2) candidates come from joining the cell-partitioned codes
    // files against the broadcast probe list — the partition column
    // is the join key, so only the probed cell directories are read
    // (plan-pinned); (3) ADC ranks candidates from their RESIDUAL
    // codes (round-13 — FAISS's by_residual=true serving path) via
    // four broadcast |Q|·nprobe×16 lookup tables built from the
    // stored residual codebooks and the query's residual wrt each
    // probed centroid (fixed-order d0+d1+d2+d3, the q260 argument;
    // the raw encoding stays served by the q260/q261 ablation); (4) the
    // ONLY full-vector touch is the exact re-rank of the 50-deep
    // shortlist, fetched by id through a broadcast join (≤50 vectors
    // per query). No kmeans runs here — the chains live in the build
    // tier. Oracle: replays the chains to reconstruct the identical
    // stored bits, then the same probe/ADC/re-rank tail.
    "q263_ivfadc_query" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      ivfadcServe(s, d, corpusQueries(s, d), selfExclude = true, "r")
    }),

    // IVFADC over an ARBITRARY EXTERNAL query set (round-11 reach —
    // the missing piece between q263 and a real retrieval endpoint):
    // q263's probes are corpus rows (vec_id < 5), so a user could only
    // ever ask "neighbors of something already indexed". This tier
    // serves top-5 ANN for a query relation that exists NOWHERE in the
    // index: EXTQ_N vectors generated from exact dyadic-rational
    // arithmetic (integers mod 13, divided by 8 — every value a small
    // dyadic rational, so Spark and DuckDB materialize bit-identical
    // doubles with no libm and no corpus read). In production the
    // query relation is whatever DataFrame the caller hands in; the
    // generated one stands in because the driver contract runs each
    // query standalone — the serving path (probe → pruned cell read →
    // ADC → bounded exact re-rank) is IDENTICAL, and everything it
    // reads is q262's stored bits, so the oracle replays the chains +
    // the same tail. Differences from q263: no self-exclusion (an
    // external query has no corpus row), and the dq tables build from
    // the generated relation. Scale posture unchanged: |Q| broadcast
    // everywhere, nprobe cell directories read under DPP, ≤50-vector
    // exact re-rank by id-fetch.
    "q286_ivfadc_external_query" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      // the external query relation (see EXTQ_N) — |Q| rows, no
      // corpus scan; the 64-element transform runs once per QUERY
      // (the HOF-interpretation trap only bites per corpus row)
      val q0 = s.range(EXTQ_N).select(col("id").as("q_id"),
          expr("transform(sequence(1, 64), " +
            "i -> CAST((id * 31 + i * 17) % 13 - 6 AS DOUBLE) / 8.0)").as("qv"))
        .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
        .localCheckpoint(true)
      ivfadcServe(s, d, q0, selfExclude = false, "r")
    }),

    // Residual-encoded IVFADC RECALL AUDIT (round-9 reach; since
    // round-13 the residual encoding IS the stored index's serving
    // encoding — this tier publishes its recall summary): the PQ
    // codes encode r = v − centroid(cell(v)), not the raw vector, so
    // the 16-way codebooks spend their bits on the part of the vector
    // the IVF tier hasn't already explained (the Jégou/Douze/Schmid
    // construction every production FAISS index ships; q261 stays as
    // the raw-encoding ablation next to it). Same
    // probe → ADC → exact-re-rank layout; what changes: (1) the
    // corpus-wide residual runs through the codegen'd graft_sub kernel
    // (a zip_with lambda would interpret per corpus row — the measured
    // CLAUDE.md HOF trap); (2) the query distance tables are per
    // (query, PROBED CELL) — the query's residual wrt each probed
    // centroid — |Q|·nprobe·16 rows per subspace, still broadcast.
    // The residual relation is a pure function of the audited chains,
    // so the whole tier is FULLY oracle-checked like its siblings.
    "q264_ivfadc_residual" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      // serves ENTIRELY from the stored index (round-13): the residual
      // codebooks and residual codes are index citizens (the build
      // trains them — see ensureIvfadcIndex), so no residual Lloyd
      // chain runs per query. Bits are identical either way (the
      // stored index is the audited chain output), so the oracle is
      // unchanged. What computes here: the probe ranking, the
      // per-(query, probed-cell) residual dq tables, and the recall
      // summary against the exact top-5.
      val (cand, nCand) =
        ivfadcCandidates(s, d, corpusQueries(s, d), selfExclude = true, "r")
      adcRecall(s, d, cand, Some(nCand))
    }),

    // RR-PQ codebook census — PQ trained on the ROTATED corpus (the
    // random-rotation baseline of the OPQ paper, Ge et al. CVPR 2013
    // §5; the structured H·D pre-transform FAISS ships): plain PQ
    // quantizes each 16-dim slice of the RAW vector, so correlated /
    // unevenly-scaled dims waste codebook entropy; the fixed
    // orthogonal rotation spreads every input dim across every
    // subspace first, balancing per-subspace variance with ZERO
    // trained state — which is what keeps the tier fully
    // oracle-checkable (the DuckDB SQL rebuilds the rotation from the
    // (−1)^bit_count(i&j) closed form and replays the same four Lloyd
    // chains over it). Same census shape as q259; scale posture
    // unchanged (the rotation is one map-side kernel call per vector,
    // then the audited broadcast+argmin kmeans substrate).
    "q265_rrpq_codebook" -> ((s, d) => {
      // fused single-chain trainer (one corpus pass per Lloyd
      // iteration instead of PQ_M; bits equal to the per-sub chains
      // the oracle replays, by the argmin-margin bound — measured
      // 6.4s → 2.5s isolated at sf0.1); er checkpointed so each pass
      // re-reads a local relation, not re-rotates the parquet scan.
      val er = rotated(s, d).localCheckpoint(true)
      val slices = pqSubSlices(er)
      val erT = trainSample(er, T.embeddings(s, d).count(), PQ_K)
      val cbF = kmeansCentroidsFused(erT, pqSubSlices(erT), k = PQ_K, iters = PQ_ITERS)
      val counts = assignCellsFused(slices, cbF)
        .groupBy(col("sub"), col("cell")).agg(count(lit(1)).as("n_vecs"))
      cbF.join(counts, Seq("sub", "cell"), "left_outer")
        .select(col("sub").cast("long").as("sub"),
          col("cell").cast("long").as("cell"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          round(sqrt(expr("graft_dot(cv, cv)")), 4).as("cn4"))
        .orderBy(col("sub"), col("cell"))
    }),

    // RR-PQ ADC recall — q260's audit repeated in the rotated space:
    // codes and the ADC lookup tables live in rotated coordinates
    // (queries are rotated at search time by the same kernel), while
    // the exact reference top-5 and the 50-deep re-rank run in RAW
    // space — legitimate because the rotation is an isometry (R
    // orthogonal ⇒ L2 ranks are preserved), which is itself spec'd.
    // That is exactly the production layout: codes stored rotated,
    // full vectors stored raw, one rotation per query at search time.
    // Fully oracle-checked; codebooks train inline via the fused
    // single-chain trainer (the q262 stored-build pattern would apply
    // unchanged if this tier were promoted to a stored index).
    "q266_rrpq_adc_recall" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      adcRecallOverRotated(s, d, rotated(s, d).localCheckpoint(true))
    }),

    // OPQ-NP trained rotation (round-12, Ge/He/Ke/Sun CVPR 2013 §4 —
    // the natural completion of the PQ family next to q265/q266's
    // RANDOM-rotation baseline): one non-parametric alternation from
    // R0 = the fixed H·D rotation — (a) PQ-fit on the R0-rotated
    // corpus (q265's audited fused chain), (b) the orthogonal
    // Procrustes update R1 = polar(Ŷ·Xᵀ) computed by a FIXED-POINT
    // Newton–Schulz iteration (X_{t+1} = X_t(3I − X_tᵀX_t)/2, the
    // q276 exact-integer discipline: the cross-covariance M is
    // quantized ONCE at 2^20 after a power-of-two Frobenius
    // normalization, then every matmul runs in exact BIGINT with
    // sign-split renorm divisions — bit-identical across engines at
    // any partition count, so the whole 16-iteration chain is FULLY
    // oracle-checked). Output: the 64×64 trained rotation in fixed
    // point. Scale: ONE corpus pass for M ((i,j)-keyed partial aggs
    // of 4096 map-side products per vector — the q276 Gram shape)
    // on top of the audited assignment substrate; the NS iterations
    // touch 64×64 relations only.
    "q287_opq_rotation" -> ((s, d) =>
      opqRotation(s, d)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("q").as("r_q"))
        .orderBy(col("i"), col("j"))),

    // OPQ ADC recall (q266's audit repeated under the TRAINED
    // rotation — the honest measurement the rotation tier exists
    // for): codes and ADC tables live in R1-rotated space (the
    // corpus rotates through the codegen'd graft_matvec kernel; R1's
    // fixed-point entries divide to exact dyadic doubles, so both
    // engines rotate with IDENTICAL matrices and differ only by
    // sum-order ulps — the audited argmin-margin bound), exact
    // reference and re-rank in RAW space. R1 is only NEAR-orthogonal
    // (quantized NS, residual audited in spec), which the raw-space
    // re-rank makes harmless: recall numbers are measured against
    // raw exact truth whatever the rotation is. On the synthetic
    // near-isotropic embeddings OPQ is expectedly ~recall-neutral vs
    // q266 (no subspace correlation to fix) — recording that is the
    // point, same posture as q266 vs q260.
    "q288_opq_adc_recall" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      val rflat = opqRotation(s, d)
        .agg(array_sort(collect_list(struct(col("i"), col("j"), col("q")))).as("rs"))
        .select(expr(s"transform(rs, x -> CAST(x.q AS DOUBLE) / $PCA_SCALE.0)")
          .as("rflat"))
      val er1 = T.embeddings(s, d)
        .crossJoin(broadcast(rflat))
        .select(col("vec_id"), expr("graft_matvec(rflat, embedding)").as("v"))
        .localCheckpoint(true)
      adcRecallOverRotated(s, d, er1)
    }),

    // OPQ-rotated-residual BUILD census (round-14, r13 verdict item
    // 4): the stored index now also carries the o-encoding — q287's
    // trained rotation applied to the residuals before their own PQ
    // (FAISS's "OPQ64,IVF…,PQ…" pretransform composition; opt-in in
    // index_factory, hence an ADDITIONAL encoding, not a flip of the
    // by_residual default the plain tiers serve). Same read-back
    // census discipline as q262: per cell, size + the four o-code-sum
    // checksums, computed FROM THE PARQUET — a wrong/stale rotated
    // bit anywhere moves a sum. The oracle replays the full
    // composition: IVF chain → residuals → the q287 OPQ chain (H·D,
    // t-chains, M, NS iterations) → residual rotation → four o-Lloyd
    // chains.
    "q293_opq_residual_build" -> ((s, d) => {
      val root = ensureIvfadcIndex(s, d)
      s.read.parquet(s"$root/codes")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
             sum(col("o0").cast("long")).as("sum_o0"),
             sum(col("o1").cast("long")).as("sum_o1"),
             sum(col("o2").cast("long")).as("sum_o2"),
             sum(col("o3").cast("long")).as("sum_o3"))
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
                col("sum_o0"), col("sum_o1"), col("sum_o2"), col("sum_o3"))
        .orderBy(col("cell"))
    }),

    // OPQ-rotated-residual QUERY tier (q263 on the o-encoding): the
    // same probe → DPP-pruned cell read → ADC → bounded exact
    // re-rank layout; the ONLY addition is one graft_matvec per
    // (query, probed cell) — the stored rotation applied to the
    // query's residual before the dq slices (codes were rotated at
    // build time, so search-time cost is |Q|·nprobe matvecs,
    // corpus-free). Serving reads rot/ + ocodebooks/ + the o0..o3
    // columns of the SAME cell-partitioned codes files.
    "q294_opq_ivfadc_query" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      ivfadcServe(s, d, corpusQueries(s, d), selfExclude = true, "o")
    }),

    // OPQ-rotated-residual RECALL audit (q264 on the o-encoding —
    // the honest measurement the composition exists
    // for, published next to the unrotated store's q264 relation):
    // ADC-shortlist and 50-deep-re-rank overlap against the exact
    // top-5, served entirely from the stored o-bits. On the
    // synthetic near-isotropic embeddings the trained rotation is
    // expectedly ~recall-neutral vs the plain residual store (no
    // subspace correlation to fix — the q288-vs-q266 posture); the
    // tier's value is the audited machinery a correlated-embedding
    // corpus would need, and the two published relations ARE the
    // comparison.
    "q295_opq_residual_recall" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      val (cand, nCand) =
        ivfadcCandidates(s, d, corpusQueries(s, d), selfExclude = true, "o")
      adcRecall(s, d, cand, Some(nCand))
    }),

    // Incremental IVFADC index ADD (round-14 — the missing member of
    // the incremental family next to q101/q140/q213, and FAISS
    // IndexIVFPQ.add's exact semantics): a nightly delta batch joins
    // a FROZEN trained index — centroids and residual codebooks stay
    // fixed (they were trained on yesterday's corpus; retraining per
    // batch is the 100 TB anti-pattern AND would invalidate every
    // already-stored code), new vectors get one broadcast-argmin cell
    // assignment + one frozen-codebook residual encode, and the new
    // code rows append to the cell directories. Cost shape: the delta
    // pays |delta|·nlist assignment rows + |delta| encode rows — the
    // old corpus is never touched. Yesterday's state is built inline
    // on the old 80% (the q213 posture: the oracle replays it from
    // scratch, making "frozen state + delta add ≡ the replayed
    // composition" a checked theorem); published: the per-cell census
    // of exactly the APPENDED rows.
    "q298_ivfadc_incremental_add" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      val e64 = emb(s, d)
      val cutDf = e64.agg(expr("(4 * max(vec_id)) div 5").as("cut"))
      val oldE = e64.crossJoin(broadcast(cutDf))
        .filter(col("vec_id") <= col("cut")).drop("cut").localCheckpoint(true)
      val newE = e64.crossJoin(broadcast(cutDf))
        .filter(col("vec_id") > col("cut")).drop("cut")
      val nOld = oldE.count()
      val nlist = ivfNlist(nOld)
      // yesterday's FROZEN state: coarse centroids + residual
      // codebooks trained on the OLD corpus only (bounded Lloyd)
      val cents = kmeansCentroids(trainSample(oldE, nOld, nlist), k = nlist, iters = 4)
        .localCheckpoint(true)
      val oldResid = assignCells(oldE, cents)
        .select(col("vec_id"), col("v"), col("cell"))
        .join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell"))
        .select(col("vec_id"), expr("graft_sub(v, cv)").as("v"))
      val residT = trainSample(oldResid, nOld, PQ_K)
      val rcbF = kmeansCentroidsFused(residT, pqSubSlices(residT),
          k = PQ_K, iters = PQ_ITERS)
        .localCheckpoint(true)
      // the ADD: assign + encode the delta against the frozen state
      val dCells = assignCells(newE, cents)
        .select(col("vec_id"), col("v"), col("cell"))
      val dResid = dCells
        .join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell"))
        .select(col("vec_id"), expr("graft_sub(v, cv)").as("v"))
      val dCodes = pqCodesFused(pqSubSlices(dResid), rcbF)
      dCells.select(col("vec_id"), col("cell"))
        .join(dCodes, Seq("vec_id"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_new"),
             sum(col("c0").cast("long")).as("sum_r0"),
             sum(col("c1").cast("long")).as("sum_r1"),
             sum(col("c2").cast("long")).as("sum_r2"),
             sum(col("c3").cast("long")).as("sum_r3"))
        .select(col("cell").cast("long").as("cell"), col("n_new"),
                col("sum_r0"), col("sum_r1"), col("sum_r2"), col("sum_r3"))
        .orderBy(col("cell"))
    }),

    // The STORED-STATE twin of q298 (round-15, r14 verdict item 1):
    // FAISS IndexIVFPQ.add_with_ids against the PERSISTED index —
    // frozen coarse centroids and frozen residual codebooks are READ
    // FROM the q262 store (never retrained, never rebuilt inline),
    // and the add batch is q286's external-vector class (dyadic
    // formula, 16 rows — vectors the index has never seen). What the
    // query measures is exactly what a production add pays: one
    // broadcast-argmin assign + one frozen-codebook encode, all
    // |delta|-sized — the corpus is touched only through the tiny
    // centroid/codebook files. Output: each added vector's routed
    // cell + residual codes, i.e. the rows a nightly would append to
    // codes/ (partitionBy(cell) — the same sink the build uses).
    // Oracle: the stored chains replay (ivfChainBodyStored + residual
    // chains — the q262 census discipline), then the same assign +
    // encode algebra runs over the generated batch in SQL.
    "q300_ivfadc_add_stored" -> ((s, d) => {
      graft.functions.VectorKernels.ensureRegistered(s)
      val root = ensureIvfadcIndex(s, d)
      val cents = s.read.parquet(s"$root/centroids")
      val rcb = s.read.parquet(s"$root/rcodebooks")
      // the add batch: ADDQ_N external vectors from the exact dyadic
      // generator (no corpus scan, replayed bit-identically in SQL)
      val q0 = s.range(ADDQ_N).select(col("id").as("vec_id"),
          expr("transform(sequence(1, 64), " +
            "i -> CAST((id * 31 + i * 17) % 13 - 6 AS DOUBLE) / 8.0)").as("v"))
        .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      val cells = assignCells(q0, cents)
        .select(col("vec_id"), col("v"), col("cell"))
        .localCheckpoint(true) // two consumers: residual join + output
      val resid = cells
        .join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell"))
        .select(col("vec_id"), expr("graft_sub(v, cv)").as("v"))
      val codes = pqCodesFused(pqSubSlices(resid), rcb)
      cells.select(col("vec_id"), col("cell"))
        .join(codes, Seq("vec_id"))
        .select(col("vec_id").as("add_id"), col("cell").cast("long").as("cell"),
          col("c0").cast("long").as("r0"), col("c1").cast("long").as("r1"),
          col("c2").cast("long").as("r2"), col("c3").cast("long").as("r3"))
        .orderBy(col("add_id"))
    }),

    // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    // at web-scale through semantic deduplication"): semantic dedup
    // blocked by LEARNED kmeans cells instead of q64's given labels —
    // the production answer to "which pairs do we even compare?" when
    // the corpus has no label column. The cluster key comes from the
    // STORED IVFADC index (q262's cell-partitioned codes relation —
    // the dedup path runs NO kmeans, the same serve-from-index
    // posture as q263), pairs inside a cell go through the chunked
    // triangle join (one dominant cell can never concentrate its
    // quadratic pair set in one task — and at 100 TB the paper's k
    // scales with n: SemDeDup uses 11k clusters on LAION, keeping
    // cells roughly constant-sized so the within-cell pair space
    // stays ~linear in n; the chunked triangle bounds whatever skew
    // the clustering leaves). The drop rule is deterministic: a
    // vector is dropped iff SOME smaller-id vector in its cell sits
    // at cosine ≥ 0.35. (The paper keeps one random
    // representative per dup neighborhood; min-id keeps the op
    // oracle-replayable — the q137/q270 determinism trade.)
    // witness_id is the smallest such neighbor — a per-drop audit
    // trail, not a transitive canonical (q67/q106 own that
    // semantics). Oracle: replays the audited IVF chain (g5 IS the
    // stored cell assignment — the q262 substrate-agreement
    // invariant) + the identical pair predicate.
    "q269_semdedup" -> ((s, d) =>
      chunkedPairs(semdedupInput(s, d), chunkSize = 64)
        .filter(col("cos") >= 0.35)
        .groupBy(col("id2"), col("__lbl"))
        .agg(min(col("id1")).as("witness_id"),
             count(lit(1)).as("n_dups"),
             max(col("cos")).as("max_cos"))
        .select(col("id2").as("vec_id"), col("__lbl").as("cell"),
          col("witness_id"), col("n_dups"),
          round(col("max_cos"), 4).as("max_cos4"))
        .orderBy(col("vec_id"))),

    // k-center greedy coreset (farthest-point traversal — the
    // diversity-sampling construction of coreset selection, Sener &
    // Savarese 2018 / Gonzalez 1985): seed at the md5-min vector,
    // then 7 times pick the corpus point farthest (squared L2) from
    // the selected set. Output is the selection order + the coverage
    // radius curve (the picked point's min-distance to the previous
    // centers — the 2-approximation bound's certificate, non-
    // increasing by construction). Every draw is the md5/argmax-
    // margin idiom, so the chain is FULLY oracle-checked — the
    // DuckDB SQL replays all 7 unrolled selection steps. See
    // [[kcenterChain]]/[[kcenterFarthest]] for the scale shape.
    "q271_kcenter_coreset" -> ((s, d) =>
      kcenterChain(s, d)
        .select(col("t"), col("cid").as("center_id"),
          round(col("dsel"), 4).as("far_d2_4"))
        .orderBy(col("t"))),

    // D4-style prototype pruning (Tirumala 2023, "D4: Improving LLM
    // Pretraining via Document De-Duplication and Diversification"):
    // the published recipe is exactly SemDeDup (q269) followed by
    // prototype pruning — drop the most PROTOTYPICAL quarter of each
    // cluster (the survivors closest to their cluster centroid),
    // keeping the diverse tail. Cluster key AND centroids both serve
    // from the STORED index (q262); survivors = corpus minus q269's
    // dropped set (the same chunked pair relation); the within-cell
    // closeness ranking is a float rank over an nlist-value key —
    // ScalableRank territory, never a bare window — and the cut is
    // the exact-integer rank <= ntot div 4. Output: the pruned rows
    // with their prototype rank and cell census.
    "q272_d4_prune" -> ((s, d) => {
      val root = ensureIvfadcIndex(s, d)
      val centroids = s.read.parquet(s"$root/centroids")
        .select(col("cell").cast("long").as("label"), col("cv"))
      val in = semdedupInput(s, d)
      val dropped = chunkedPairs(in, chunkSize = 64)
        .filter(col("cos") >= 0.35)
        .select(col("id2").as("vec_id")).distinct()
      val surv = in.join(dropped, Seq("vec_id"), "left_anti")
        .join(broadcast(centroids), Seq("label"))
        .withColumn("d2",
          dot("v", "v") - lit(2.0) * dot("v", "cv") + dot("cv", "cv"))
        .select(col("vec_id"), col("label"), col("d2"))
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      ScalableRank.withRanks(surv, Seq("label"),
          Seq(col("d2"), col("vec_id")), Seq(col("d2"), col("vec_id")), p)
        .filter(expr("rn <= ntot div 4"))
        .select(col("vec_id"), col("label").as("cell"),
          col("rn").as("proto_rank"), col("ntot").as("n_survivors"),
          round(col("d2"), 4).as("d2_4"))
        .orderBy(col("vec_id"))
    }),

    // Top principal direction of the embedding corpus via power
    // iteration (the anisotropy/dominant-direction health check every
    // embedding pipeline runs — Mu & Viswanath 2018's "all-but-the-
    // top" post-processing starts from exactly this vector), computed
    // in EXACT fixed-point arithmetic so every iteration is
    // bit-replayable: embeddings quantize to xq = floor(x·2^20)
    // (float·2^20 is exact in double — a power-of-two scale — so the
    // floor is deterministic), the 64×64 Gram matrix G = ΣxᵀX is
    // accumulated in DECIMAL(38,0)/HUGEINT (order-free exact integer
    // sums — the q248 overflow class), and all PCA_ITERS iterations
    // v ← Gv with max-abs integer renormalization run on the
    // 4096-row G. Plan shape at 100 TB: ONE corpus scan + one
    // (i,j)-keyed partial-agg reduce (the self-join reuses its own
    // exchange); the iterations never touch the corpus again —
    // unlike a per-iteration matvec against the data, which would
    // cost 2T corpus shuffles. Overflow envelope documented at
    // [[pcaPowerChain]]. Deterministic by exactness: bit-identical
    // at ANY partition count (property-spec'd), no float-drift
    // argument needed — the strongest determinism class in the
    // catalog's iterative chains.
    "q276_pca_power" -> ((s, d) => pcaPowerChain(s, d)),

    // Dominant-direction outlier audit (the "all-but-the-top" USE of
    // q276's principal direction — Mu & Viswanath 2018 remove it;
    // this surfaces the vectors most aligned with it, the rows a
    // curation pass inspects or downweights first): every vector's
    // EXACT fixed-point projection onto the learned direction
    // (scaled 2^40), top-8 by |projection|. Same bit-exact class as
    // q276: integer sums + integer ranking, no float anywhere —
    // exact ties (if any) break by vec_id identically in both
    // engines. Scale shape: the 64-row direction broadcasts; the
    // projection is one vec-keyed partial agg over the quantized
    // corpus; the global rank rides ScalableRank (constant key).
    "q277_pca_outliers" -> ((s, d) => pcaOutliers(s, d)),

    // Johnson-Lindenstrauss random projection (the ±1 sign variant of
    // Achlioptas 2003 — the database-friendly JL construction every
    // cheap pre-ANN compression uses): project the quantized
    // embeddings 64 → 16 dims through a FIXED md5-coin sign matrix,
    // then audit distance preservation on a deterministic O(N) pair
    // sample (the q211/q268 md5-bucket neighbor pairing — never
    // all-pairs). Everything is exact integer arithmetic (the q276
    // class): reduced coords are ±1-weighted DECIMAL sums, both
    // distances are exact squared sums, and the distortion ratio is
    // the integer d2_red·10^6 div (k·d2_orig) — for ±1 signs
    // E‖Rx‖² = k‖x‖², so ratios concentrate at 10^6 with ~√(2/k)
    // spread (audited in VectorOpsSpec, not assumed). Scale shape:
    // the 1024-row sign matrix broadcasts, z is a (vec,k)-keyed
    // partial agg, pairs are rank-adjacent equi-joins.
    "q280_jl_projection" -> ((s, d) => jlDistortion(s, d)),

    // Second principal direction via Hotelling deflation (the top-2
    // anisotropy PLANE — what embedding-health reports actually plot;
    // Mu & Viswanath remove the top-D directions, not just one):
    // G₂ = G − (y yᵀ)/(v₁ᵀy) computed in deterministic fixed point
    // (y downshifted 2^40, sign-split integer divisions — quantized
    // but exactly replayable), then the same renormalized power loop
    // under an independent md5 coin. All the q276 scale properties
    // carry over: the corpus is touched only by the shared Gram pass;
    // deflation and both loops run on 64/4096-row relations.
    "q281_pca_deflation" -> ((s, d) =>
      pcaSecondDirection(s, d)
        .select(col("i").cast("long").as("i"), col("vq").cast("long").as("pc2_q"),
          (when(col("vq") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr(s"(abs(vq) * 1000000) div $PCA_SCALE")).as("pc2_ppm"))
        .orderBy(col("i"))),

    // Explained-variance decomposition (the summary an embedding-
    // health report leads with: how much of the corpus energy the
    // top directions carry — near-isotropic vs collapsed): total
    // energy and exact PC1/PC2 Rayleigh energies with ppm shares,
    // all in the q276 fixed-point class, one shared Gram pass for
    // both directions. λ₁ ≥ λ₂ is visible in the output ordering
    // and asserted in the spec.
    "q283_pca_variance" -> ((s, d) => pcaVariance(s, d))
  )

  /** The q276 exact fixed-point power-iteration chain: (i, pc1_q,
    * pc1_ppm), 64 rows — the top principal direction at 2^-20
    * resolution. Public so VectorOpsSpec can replay it from scratch
    * with BigInt arithmetic and property-test partition invariance.
    *
    * All sums are DECIMAL(38,0) integer sums (exact, order-free);
    * the renormalization v ← sign(y)·((|y|·2^20) div max|y|) is
    * integer division on nonnegative operands (floor = trunc — no
    * cross-engine negative-division ambiguity; the sign is split
    * out). The Gram matrix is checkpointed ONCE (the q273 feature-
    * materialization trade: every iteration reads it); per-iteration
    * state is the 64-row v, checkpointed kmeans-style.
    */
  def pcaPowerChain(s: SparkSession, d: String): DataFrame =
    pcaDirection(s, d)
      .select(col("i").cast("long").as("i"), col("vq").cast("long").as("pc1_q"),
        (when(col("vq") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr(s"(abs(vq) * 1000000) div $PCA_SCALE")).as("pc1_ppm"))
      .orderBy(col("i"))

  /** The quantized per-dimension corpus relation (vec_id, i, xq) —
    * q276/q277's shared exact substrate.
    */
  def pcaQuantized(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("i"),
        floor(col("col").cast("double") * lit(PCA_SCALE.toDouble))
          .cast("decimal(38,0)").as("xq"))

  /** The converged 64-row direction (i, vq) after PCA_ITERS exact
    * renormalized matvecs — unformatted so q277 can reuse it.
    */
  /** The UNCHECKPOINTED upper-triangle Gram relation (i ≤ j) — G is
    * symmetric, so the self-join carries the i ≤ j cut in its
    * condition and the pair stream into the partial agg HALVES; the
    * strict lower triangle is mirrored from the checkpointed result
    * in [[pcaDirection]] (2016 tiny rows, zero corpus work). Public
    * so PlanAuditSpec can pin the one-corpus-exchange claim (the
    * self-join's two sides reuse a single shuffle; the (i,j) rollup
    * is partial-agg-fed).
    */
  def pcaGramHalf(s: SparkSession, d: String): DataFrame = {
    val xq = pcaQuantized(s, d)
    xq.as("a")
      .join(xq.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.xq") * col("b.xq")).as("g"))
  }

  /** The upper-triangle Gram collected into exact BigInt form — the
    * ONE corpus-derived input every power iteration consumes. G is
    * dimension² (≤ 2016 rows at d=64) whatever the corpus size, so
    * this is the bounded driver-side materialization class the OPQ
    * rotation established (opqRotationCompute's 64×64 matrix): at
    * 100 TB it is the same tiny fetch it is at sf0.001, and the
    * distributed work stays exactly the audited pcaGramHalf pass.
    * Round-15: the iterations themselves moved driver-side — 12
    * renormalized matvecs on a 64×64 BigInt matrix were costing
    * ~15 Spark jobs of eager-checkpoint latency per query (measured:
    * q276 4.1 s clean at sf0.1 with the corpus pass under 1 s) for
    * arithmetic that takes microseconds. Bits are UNCHANGED: every
    * sum is an exact integer sum (order-free), and VectorOpsSpec's
    * from-scratch BigInt replay is literally this code path now.
    */
  private def gramLocal(s: SparkSession, d: String): Array[Array[BigInt]] = {
    val rows = pcaGramHalf(s, d).collect()
    val dim = rows.iterator.map(r =>
      math.max(r.get(0).asInstanceOf[Number].intValue,
               r.get(1).asInstanceOf[Number].intValue)).max
    val g = Array.fill(dim, dim)(BigInt(0))
    rows.foreach { r =>
      val i = r.get(0).asInstanceOf[Number].intValue - 1
      val j = r.get(1).asInstanceOf[Number].intValue - 1
      val v = BigInt(r.getDecimal(2).toBigInteger)
      g(i)(j) = v; g(j)(i) = v
    }
    g
  }

  /** A computed direction as the 64-row (i, vq DECIMAL(38,0))
    * relation the corpus-side consumers broadcast-join.
    */
  private def dirDf(s: SparkSession, v: Array[BigInt]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vq",
        org.apache.spark.sql.types.DecimalType(38, 0), nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      v.zipWithIndex.map { case (x, k) =>
        org.apache.spark.sql.Row(k + 1, new java.math.BigDecimal(x.bigInteger))
      }.toSeq.asJava
    s.createDataFrame(rows, schema)
  }

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** PCA_ITERS renormalized power iterations over the collected
    * 64×64 exact-integer G, md5-coin init keyed by `seed` — shared by
    * q276 (on G) and q281 (on the deflated G₂). Driver-side BigInt
    * (see [[gramLocal]] for why that is the right altitude): the
    * algebra is the exact fixed-point chain the DuckDB oracles and
    * the VectorOpsSpec BigInt replay compute, unchanged —
    * y = G·v, then v ← sign(y)·((|y|·2^20) div max|y|).
    */
  /** `ortho`, when set, re-projects each matvec against the given
    * unit-scale direction BEFORE renormalizing (textbook deflated
    * power iteration): y ← y − v₁·((v₁ᵀy) div (v₁ᵀv₁)), sign-split
    * integer division. Deflation of G alone is NOT enough on
    * near-isotropic spectra — v₁'s own convergence residue re-grows
    * under iteration (measured cos(v₁,v₂) ≈ 0.41 without this);
    * re-projection pins the overlap to quantization noise.
    */
  private def powerLoopLocal(g: Array[Array[BigInt]], seed: String,
      ortho: Option[Array[BigInt]] = None): Array[BigInt] = {
    val dim = g.length
    val S = BigInt(PCA_SCALE)
    val vv = ortho.map(v1 => v1.map(x => x * x).reduce(_ + _))
    var v = Array.tabulate(dim) { k =>
      if (java.lang.Long.parseLong(md5hex(s"$seed:${k + 1}").take(8), 16) % 2 == 0)
        S else -S
    }
    for (_ <- 1 to PCA_ITERS) {
      var y = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * v(j)).reduce(_ + _))
      for (v1 <- ortho) {
        val rn = (0 until dim).map(i => v1(i) * y(i)).reduce(_ + _)
        val r = (if (rn < 0) BigInt(-1) else BigInt(1)) * (rn.abs / vv.get)
        y = Array.tabulate(dim)(i => y(i) - v1(i) * r)
      }
      val m = y.map(_.abs).max
      v = y.map(yi => (if (yi < 0) BigInt(-1) else BigInt(1)) * (yi.abs * S / m))
    }
    v
  }

  def pcaDirection(s: SparkSession, d: String): DataFrame =
    dirDf(s, powerLoopLocal(gramLocal(s, d), "pca"))

  /** q281 dial: the deflation downshift 2^40. y = G·v₁ is truncated
    * to yp = y div 2^40 before the rank-1 subtraction so the
    * numerator yp_i·yp_j·2^20 stays inside DECIMAL(38,0): with
    * |x| ≤ 1 the envelope binds at ~10^8 vectors (N²·2^72 ≤ 2^126);
    * beyond that the shift is re-sized. The truncation costs ~2^-30
    * relative precision in the deflation term at the test SFs —
    * deterministic (exact replay) even though no longer exact math.
    */
  val PCA_DEFL_SHIFT = 1099511627776L

  /** The q281 second-principal-direction chain: Hotelling deflation
    * G₂ = G − (y yᵀ)/(v₁ᵀy) in deterministic fixed point (sign-split
    * integer divisions), then the same PCA_ITERS power loop under an
    * independent md5 coin. Orthogonality to v₁ is AUDITED in the
    * spec (measured, not assumed — the deflation is quantized).
    */
  def pcaSecondDirection(s: SparkSession, d: String): DataFrame = {
    val g = gramLocal(s, d)
    dirDf(s, deflatedSecondLocal(g, powerLoopLocal(g, "pca")))
  }

  /** The deflation + re-orthogonalized loop given an already-built
    * Gram and v₁ — shared by q281 and q283 (which needs both
    * directions without re-running the v₁ chain). Driver-side exact
    * BigInt on the 64×64 G (see [[gramLocal]]) — the algebra is
    * byte-for-byte the quantized fixed-point chain the oracle and
    * the spec replay: yp = sign(y)·(|y| div 2^40), den = Σ v₁·yp,
    * G₂ = G − sign(ypᵢypⱼ)·((|ypᵢypⱼ|·2^20) div den).
    */
  private def deflatedSecondLocal(g: Array[Array[BigInt]],
      v1: Array[BigInt]): Array[BigInt] = {
    val dim = g.length
    val S = BigInt(PCA_SCALE)
    val shift = BigInt(PCA_DEFL_SHIFT)
    val y = Array.tabulate(dim)(i =>
      (0 until dim).map(j => g(i)(j) * v1(j)).reduce(_ + _))
    val yp = y.map(x => (if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs / shift))
    val den = (0 until dim).map(i => v1(i) * yp(i)).reduce(_ + _)
    val g2 = Array.tabulate(dim, dim) { (i, j) =>
      val pij = yp(i) * yp(j)
      g(i)(j) - (if (pij < 0) BigInt(-1) else BigInt(1)) * (pij.abs * S / den)
    }
    powerLoopLocal(g2, "pca2", ortho = Some(v1))
  }

  /** The q283 explained-variance decomposition: total embedding
    * energy Σ‖x‖² and the exact PC1/PC2 energies
    * Σ(xᵀv)² div (vᵀv), each with its share of total in ppm — all
    * 2^40-scaled integers (the q276 class). One shared Gram pass
    * builds both directions; then ONE fused corpus pass (round-15,
    * r14 verdict item 3 — previously total/pc1/pc2 each scanned the
    * quantized corpus separately) computes (Σxq², Σxq·v1, Σxq·v2)
    * per vector under the two broadcast 64-row directions, and the
    * three energies roll up from that single relation. All interior
    * arithmetic is exact DECIMAL(38,0), so regrouping the total from
    * a flat global sum into per-vector partials is bit-identical —
    * the oracle and the BigInt spec replay are unchanged.
    */
  def pcaVariance(s: SparkSession, d: String): DataFrame = {
    val xq = pcaQuantized(s, d)
    val g = gramLocal(s, d)
    val v1 = powerLoopLocal(g, "pca")
    val v2 = deflatedSecondLocal(g, v1)
    val vv1 = v1.map(x => x * x).reduce(_ + _)
    val vv2 = v2.map(x => x * x).reduce(_ + _)
    // one corpus pass: per-vector squared norm + both exact projections
    val per = xq
      .join(broadcast(dirDf(s, v1).select(col("i"), col("vq").as("v1q"))), Seq("i"))
      .join(broadcast(dirDf(s, v2).select(col("i"), col("vq").as("v2q"))), Seq("i"))
      .groupBy(col("vec_id"))
      .agg(sum(col("xq") * col("xq")).as("x2"),
           sum(col("xq") * col("v1q")).as("p1"),
           sum(col("xq") * col("v2q")).as("p2"))
    val tot = per
      .agg(sum(col("x2")).as("et"),
           sum(col("p1") * col("p1")).as("pp1"),
           sum(col("p2") * col("p2")).as("pp2"))
      .localCheckpoint(true)
    val rows = Seq(
      tot.select(lit("total").as("component"),
        col("et").cast("decimal(38,0)").as("e")),
      tot.select(lit("pc1").as("component"),
        expr(s"pp1 div CAST('$vv1' AS DECIMAL(38,0))")
          .cast("decimal(38,0)").as("e")),
      tot.select(lit("pc2").as("component"),
        expr(s"pp2 div CAST('$vv2' AS DECIMAL(38,0))")
          .cast("decimal(38,0)").as("e")))
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(tot.select(col("et"))))
      .select(col("component"), col("e").cast("long").as("energy_q2"),
        expr("(e * 1000000) div et").as("share_ppm"))
      .orderBy(col("component"))
  }

  /** q277 dial: how many dominant-direction outliers to surface. */
  val PCA_TOPK = 8

  /** Per-vector exact projections onto the learned direction — the
    * q277 pre-rank phase, public for the plan pin (the rank's
    * localCheckpoint hides it from a whole-query audit).
    */
  def pcaProjections(s: SparkSession, d: String): DataFrame =
    pcaQuantized(s, d)
      .join(broadcast(pcaDirection(s, d)), Seq("i"))
      .groupBy(col("vec_id")).agg(sum(col("xq") * col("vq")).as("proj"))

  /** The q277 outlier audit: every vector's EXACT projection onto the
    * q276 direction (scaled 2^40), top PCA_TOPK by |projection|.
    * Corpus side: one broadcast join against the 64-row direction +
    * a vec-keyed partial agg; the global rank rides ScalableRank
    * under a constant key. All-integer → ties are engine-safe.
    */
  def pcaOutliers(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    val proj = pcaProjections(s, d)
      .select(col("vec_id"), col("proj"), abs(col("proj")).as("aproj"),
        lit(0).as("g"))
    graft.functions.ScalableRank
      .withRanks(proj, Seq("g"), Seq(col("aproj").desc, col("vec_id")),
        Seq(col("aproj"), col("vec_id")), p)
      .filter(col("rn") <= PCA_TOPK)
      .select(col("vec_id"), col("rn").as("rk"), col("proj").cast("long").as("proj_q2"))
      .orderBy(col("rn"))
  }

  /** q280 dials: reduced dimension and the pair-sample bucket count
    * (256 = the q268 sorted-neighborhood dial).
    */
  val JL_K = 16
  val JL_BUCKETS = 256

  /** The q280 JL distortion audit: one row per sampled neighbor pair
    * with exact original/reduced squared distances (2^40-scaled) and
    * the distortion ratio in ppm of the unbiased k·d2_orig baseline.
    * Public so VectorOpsSpec can replay it from scratch.
    */
  def jlDistortion(s: SparkSession, d: String): DataFrame = {
    val xq = pcaQuantized(s, d)
    val rmat = xq.select(col("i")).distinct()
      .crossJoin(s.range(JL_K).select(col("id").cast("int").as("k")))
      .select(col("k"), col("i"),
        when(conv(substring(md5(concat(lit("jl:"), col("k").cast("string"),
            lit(":"), col("i").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("r"))
    val z = xq.join(broadcast(rmat), Seq("i"))
      .groupBy(col("vec_id"), col("k")).agg(sum(col("r") * col("xq")).as("z"))
    val h = T.embeddings(s, d)
      .select(col("vec_id"),
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
      .withColumn("bucket", col("hv") % JL_BUCKETS)
    val w = Window.partitionBy(col("bucket")).orderBy(col("hv"), col("vec_id"))
    val rk = h.withColumn("rn", row_number().over(w))
    val pairs = rk
      .select(col("bucket").as("bk"), col("rn").as("ra"), col("vec_id").as("id1"))
      .join(rk.select(col("bucket").as("bk"), (col("rn") - 1).as("ra"),
        col("vec_id").as("id2")), Seq("bk", "ra"))
      .select(col("id1"), col("id2"))
    val d2o = pairs
      .join(xq.select(col("vec_id").as("id1"), col("i"), col("xq").as("xa")), Seq("id1"))
      .join(xq.select(col("vec_id").as("id2"), col("i"), col("xq").as("xb")),
        Seq("id2", "i"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum((col("xa") - col("xb")) * (col("xa") - col("xb"))).as("d2o"))
    val d2r = pairs
      .join(z.select(col("vec_id").as("id1"), col("k"), col("z").as("za")), Seq("id1"))
      .join(z.select(col("vec_id").as("id2"), col("k"), col("z").as("zb")),
        Seq("id2", "k"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum((col("za") - col("zb")) * (col("za") - col("zb"))).as("d2r"))
    d2o.join(d2r, Seq("id1", "id2"))
      // d2o = 0 (an exact quantized duplicate) would be a 0-division;
      // such a pair carries no distortion signal — drop it
      .filter(col("d2o") > 0)
      .select(col("id1"), col("id2"),
        col("d2o").cast("long").as("d2_orig_q2"),
        col("d2r").cast("long").as("d2_red_q2"),
        expr(s"CAST((d2r * 1000000) div (d2o * $JL_K) AS BIGINT)").as("ratio_ppm"))
      .orderBy(col("id1"), col("id2"))
  }

  /** q269's input relation: every vector tagged with its STORED IVF
    * cell (read from the q262 index's cell-partitioned codes files —
    * no kmeans on the dedup path), shaped for [[chunkedPairs]]
    * (cell plays the blocking `label`). Public so PlanAuditSpec can
    * pin the serve-from-index claim directly — inside the query this
    * relation sits behind ScalableRank's localCheckpoint, invisible
    * to a plan audit of the whole query.
    */
  def semdedupInput(s: SparkSession, d: String): DataFrame = {
    val root = ensureIvfadcIndex(s, d)
    val cells = s.read.parquet(s"$root/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    emb(s, d).join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("cell").as("label"), col("v"), col("nrm"))
  }

  /** Number of centers the q271 k-center greedy chain selects. */
  val KC_K = 8

  /** q276 dials: power-iteration count and the 2^20 fixed-point
    * scale. 6 iterations measured cos(v5, v6) ≈ 0.995 on the
    * synthetic embeddings (near-converged; the exact-replay trainer
    * is the deliverable — the q273 posture). S = 2^20 makes the
    * quantization exact (float·2^20 never rounds in double) and
    * keeps every intermediate far inside DECIMAL(38,0): |xq| ≤ 2^20,
    * G entries ≤ N·2^40 (2^80 at N = 10^12 — a 100 TB corpus), and
    * y = G·v ≤ 64·2^80·2^20 = 2^106 < 10^38 ≈ 2^126. The renorm
    * division (|y|·2^20 ≤ 2^126) is the binding envelope — beyond
    * ~10^12 vectors the renorm would downshift y first.
    */
  val PCA_ITERS = 6
  val PCA_SCALE = 1048576L

  /** One farthest-point selection step (public for the plan audit):
    * the corpus point maximizing min-distance to the current center
    * set. Centers BROADCAST (≤ k·dim doubles); per-(vector, center)
    * squared distance via the codegen'd kernel; the min over centers
    * is a partial-aggregable vec_id-keyed groupBy (assignCells'
    * shape, never a window); the global argmax is a 1-row
    * max(struct(dmin, -vec_id)) aggregate — partial-aggregable too,
    * so the whole step shuffles n post-combine rows then 1-row
    * partials. Ties break to the smaller vec_id (struct ordering).
    */
  def kcenterFarthest(e: DataFrame, sel: DataFrame): DataFrame =
    e.crossJoin(broadcast(sel.select(col("cv"))))
      .withColumn("__d2",
        dot("v", "v") - lit(2.0) * dot("v", "cv") + dot("cv", "cv"))
      .groupBy(col("vec_id")).agg(min(col("__d2")).as("dmin"))
      .agg(max(struct(col("dmin").as("d"), (-col("vec_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("vec_id"), col("m.d").as("dmin"))

  /** The q271 farthest-point traversal chain: (t, cid, cv, dsel) for
    * t = 1..k, dsel = the selected point's min-distance to the
    * previous centers (the k-center coverage radius curve; NULL for
    * the seed). Seed = the md5-min vector — the kmeansCentroids init
    * coin. Each iteration re-derives min-distances from the FULL
    * center set (k ≤ 8 corpus-pass-sized distance evals total) so
    * only the k-row center relation is ever checkpointed — the
    * kmeans-chain discipline; no corpus-sized state, no driver
    * collect. Public so the spec can audit argmax margins.
    */
  def kcenterChain(s: SparkSession, d: String, k: Int = KC_K): DataFrame = {
    graft.functions.VectorKernels.ensureRegistered(s)
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    var sel = e
      .select(col("vec_id"), col("v"), md5(col("vec_id").cast("string")).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(1)
      .select(lit(1).as("t"), col("vec_id").as("cid"), col("v").as("cv"),
        lit(null).cast("double").as("dsel"))
      .localCheckpoint(true)
    for (t <- 2 to k) {
      val nxt = kcenterFarthest(e, sel)
      sel = sel.unionByName(
        e.join(broadcast(nxt), Seq("vec_id"))
          .select(lit(t).as("t"), col("vec_id").as("cid"), col("v").as("cv"),
            col("dmin").as("dsel")))
        .localCheckpoint(true)
    }
    sel
  }

  private val embCte =
    """WITH e AS (SELECT vec_id, label, unnest(embedding) AS v,
      |                  generate_subscripts(embedding,1) AS i FROM embeddings),
      |n AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE)*CAST(v AS DOUBLE))) AS nrm
      |      FROM e GROUP BY 1)""".stripMargin

  /** One unrolled Lloyd iteration (+ the final assignment pass reuses
    * the a/g shape): distance algebra mirrors [[assignCells]] exactly —
    * Σv² − 2Σv·cv + Σcv², argmin by (d2, cell) — and the empty-cell
    * coalesce mirrors [[kmeansCentroids]]'s left-outer keep. Iteration
    * assignments are restricted to the bounded training sample
    * ([[trainPred]]; all-pass below cap·nlist vectors) — the FINAL
    * full-corpus assignment (a5/g5) is built by the caller unfiltered.
    */
  private def ivfIterSql(n: Int, capSql: String,
      kExpr: String = ivfNlistSqlExpr,
      cntSql: String = "(SELECT count(*) FROM embeddings)"): String = {
    val prev = s"c${n - 1}"
    s"""a$n AS (
       |  SELECT e.vec_id, c.cell,
       |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
       |  FROM e JOIN $prev c ON e.i = c.i
       |  WHERE ${trainPredSql("e", kExpr, capSql, cntSql)}
       |  GROUP BY 1, 2
       |), g$n AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM a$n) WHERE rn = 1
       |), u$n AS (
       |  SELECT g.cell, e.i, avg(e.v) AS cv
       |  FROM g$n g JOIN e ON g.vec_id = e.vec_id GROUP BY 1, 2
       |), c$n AS MATERIALIZED (
       |  SELECT p.cell, p.i, coalesce(u.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN u$n u ON p.cell = u.cell AND p.i = u.i
       |)""".stripMargin
  }

  /** Shared exploded-doubles CTE body (no WITH prefix) for the vector
    * oracles that compose chains.
    */
  private val eCteBody: String =
    """e AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings
      |)""".stripMargin

  /** IVF chain body (no WITH, no e): md5-coin init, 4 Lloyd iterations
    * (c1..c4), final corpus assignment (g5). Seeds and iteration
    * assignments draw from the bounded training sample (the
    * [[trainSample]] predicate, all-pass at small N); the final g5
    * assignment covers the FULL corpus. `capSql` parameterizes the
    * per-centroid cap so q289 can force a binding sample at test scale.
    */
  /** The TRAINING half of the IVF chain (init + 4 Lloyd iterations →
    * c4) — shared by the exact tail and the two-level tail below.
    */
  private def ivfTrainChainCap(capSql: String,
      tbl: String = "embeddings",
      kExpr: String = ivfNlistSqlExpr,
      cntSql: String = "(SELECT count(*) FROM embeddings)"): String =
    s"""init AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell
       |  FROM $tbl
       |  WHERE ${trainPredSql(tbl, kExpr, capSql, cntSql)}
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kExpr
       |), c0 AS MATERIALIZED (
       |  SELECT init.cell, e.i, e.v AS cv FROM init JOIN e USING (vec_id)
       |),
       |${(1 to 4).map(ivfIterSql(_, capSql, kExpr, cntSql)).mkString(",\n")}""".stripMargin

  private def ivfChainBodyCap(capSql: String): String =
    s"""${ivfTrainChainCap(capSql)},
       |a5 AS (
       |  SELECT e.vec_id, c.cell,
       |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
       |  FROM e JOIN c4 c ON e.i = c.i GROUP BY 1, 2
       |), g5 AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM a5) WHERE rn = 1
       |)""".stripMargin

  /** The default-cap instance of [[ivfChainBodyCap]] every production
    * oracle composes (all-pass below 65k vectors at cap=256).
    */
  private lazy val ivfChainBody: String = ivfChainBodyCap(ivfTrainCapSql)

  /** The chain body STORE-READING oracles compose (q261-q264, q286,
    * q269, q272): g5 replays the STORED cell assignment, which under
    * the [[ivfTwoLevel]] dial is the hierarchical two-level argmin
    * (tw-prefixed super chain + probe, q290's algebra verbatim)
    * instead of the exact one. Live-chain oracles (q66/q257/q289/
    * q290) keep [[ivfChainBody]] — their Spark sides always assign
    * exactly.
    */
  private lazy val ivfChainBodyStored: String =
    if (!ivfTwoLevel) ivfChainBody
    else
      s"""${ivfTrainChainCap(ivfTrainCapSql)},
         |${superChainBodyP("tw")},
         |twva AS (
         |  SELECT e.vec_id, s.scell,
         |         sum(e.v*e.v) - 2*sum(e.v*s.cv) + sum(s.cv*s.cv) AS d2
         |  FROM e JOIN twsc2 s ON e.i = s.i
         |  WHERE s.scell IN (SELECT scell FROM twsgf) GROUP BY 1, 2
         |), twvg AS (
         |  SELECT vec_id, scell FROM (
         |    SELECT vec_id, scell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, scell) AS rn
         |    FROM twva) WHERE rn <= 2
         |), twcd AS (
         |  SELECT twvg.vec_id, f.cell FROM twvg JOIN twsgf f USING (scell)
         |), twta AS (
         |  SELECT cd.vec_id, cd.cell,
         |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
         |  FROM twcd cd JOIN e ON e.vec_id = cd.vec_id
         |          JOIN c4 c ON c.cell = cd.cell AND c.i = e.i
         |  GROUP BY 1, 2
         |), g5 AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM twta) WHERE rn = 1
         |)""".stripMargin

  /** The full deterministic IVF substrate as a WITH-chain: shared by
    * the q257 census oracle and the full q66 oracle.
    */
  private lazy val ivfChainCte: String = s"WITH $eCteBody,\n$ivfChainBody"

  /** Store-reading twin of [[ivfChainCte]] (g5 = stored assignment,
    * dial-routed) — composed by the q269/q272 oracles.
    */
  private lazy val ivfChainCteStored: String =
    s"WITH $eCteBody,\n$ivfChainBodyStored"

  /** k2 = max(3, ⌈√nlist⌉) super-cells for the two-level assignment
    * (q290), mirrored exactly like [[ivfNlistSqlExpr]].
    */
  private lazy val k2SqlExpr: String =
    s"greatest(3, CAST(ceil(sqrt($ivfNlistSqlExpr)) AS BIGINT))"

  /** The q290 super-quantizer chain over the c4 centroid relation
    * (cell plays the vector role): md5-coin init on cell ids, 2 Lloyd
    * iterations mirroring [[kmeansCentroids]]'s algebra, final
    * cell→super routing (sgf). nlist rows throughout — corpus-free.
    * `pfx` prefixes every CTE name so the [[ivfChainBodyStored]]
    * instance (tw) can never collide with q290's plain one.
    */
  private def superChainBodyP(pfx: String): String = {
    def iter(n: Int): String = {
      val prev = s"${pfx}sc${n - 1}"
      s"""${pfx}sa$n AS (
         |  SELECT c.cell, s.scell,
         |         sum(c.cv*c.cv) - 2*sum(c.cv*s.cv) + sum(s.cv*s.cv) AS d2
         |  FROM c4 c JOIN $prev s ON c.i = s.i GROUP BY 1, 2
         |), ${pfx}sg$n AS (
         |  SELECT cell, scell FROM (
         |    SELECT cell, scell, row_number() OVER (
         |      PARTITION BY cell ORDER BY d2, scell) AS rn
         |    FROM ${pfx}sa$n) WHERE rn = 1
         |), ${pfx}su$n AS (
         |  SELECT g.scell, c.i, avg(c.cv) AS cv
         |  FROM ${pfx}sg$n g JOIN c4 c USING (cell) GROUP BY 1, 2
         |), ${pfx}sc$n AS MATERIALIZED (
         |  SELECT p.scell, p.i, coalesce(u.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN ${pfx}su$n u ON p.scell = u.scell AND p.i = u.i
         |)""".stripMargin
    }
    s"""${pfx}sinit AS MATERIALIZED (
       |  SELECT cell, row_number() OVER (
       |      ORDER BY md5(CAST(cell AS VARCHAR)), cell) AS scell
       |  FROM (SELECT DISTINCT cell FROM c4)
       |  ORDER BY md5(CAST(cell AS VARCHAR)), cell LIMIT $k2SqlExpr
       |), ${pfx}sc0 AS MATERIALIZED (
       |  SELECT ${pfx}sinit.scell, c.i, c.cv FROM ${pfx}sinit JOIN c4 c USING (cell)
       |),
       |${(1 to 2).map(iter).mkString(",\n")},
       |${pfx}saf AS (
       |  SELECT c.cell, s.scell,
       |         sum(c.cv*c.cv) - 2*sum(c.cv*s.cv) + sum(s.cv*s.cv) AS d2
       |  FROM c4 c JOIN ${pfx}sc2 s ON c.i = s.i GROUP BY 1, 2
       |), ${pfx}sgf AS MATERIALIZED (
       |  SELECT cell, scell FROM (
       |    SELECT cell, scell, row_number() OVER (
       |      PARTITION BY cell ORDER BY d2, scell) AS rn
       |    FROM ${pfx}saf) WHERE rn = 1
       |)""".stripMargin
  }

  private lazy val superChainBody: String = superChainBodyP("")

  /** One PQ subspace's kmeans chain (absolute dim indexing: the
    * subspace covers i ∈ [PQ_D·sb+1, PQ_D·(sb+1)], so slices never
    * reindex): shared init16 seeds sliced to the range, PQ_ITERS Lloyd
    * iterations mirroring [[ivfIterSql]]'s algebra, the final code
    * assignment (`gf`), and the query→codeword ADC distance table
    * (`dq`). The e-join on i restricts every distance to the
    * subspace's dims automatically; only the update aggregation needs
    * an explicit range filter (its join is on vec_id).
    */
  private def pqChainSql(sb: Int): String = pqChainSqlFrom(sb, "e", "s")

  /** Same chain parameterized over the SOURCE exploded relation and a
    * CTE prefix (round-9): the residual-encoded tier (q264) replays
    * the identical Lloyd algebra over `er` (the residual relation)
    * under prefix `r`, sharing init16's md5 seed ORDER while the seed
    * VECTORS come from the source relation. The per-source dq CTE is
    * only meaningful for raw-vector chains (a residual query distance
    * is per PROBED CELL, built by [[ivfadcCandSql]]); it is simply
    * never referenced there.
    */
  private def pqChainSqlFrom(sb: Int, src: String, pfx: String,
      cntSql: String = "(SELECT count(*) FROM embeddings)"): String = {
    val lo = PQ_D * sb + 1; val hi = PQ_D * (sb + 1)
    val p = s"$pfx$sb"
    def iter(n: Int): String = {
      val prev = s"${p}c${n - 1}"
      s"""${p}a$n AS (
         |  SELECT e.vec_id, c.cell,
         |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
         |  FROM $src e JOIN $prev c ON e.i = c.i
         |  WHERE ${trainPredSql("e", PQ_K.toString, ivfTrainCapSql, cntSql)}
         |  GROUP BY 1, 2
         |), ${p}g$n AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM ${p}a$n) WHERE rn = 1
         |), ${p}u$n AS (
         |  SELECT g.cell, e.i, avg(e.v) AS cv
         |  FROM ${p}g$n g JOIN $src e ON g.vec_id = e.vec_id
         |  WHERE e.i BETWEEN $lo AND $hi GROUP BY 1, 2
         |), ${p}c$n AS MATERIALIZED (
         |  SELECT pp.cell, pp.i, coalesce(u.cv, pp.cv) AS cv
         |  FROM $prev pp LEFT JOIN ${p}u$n u ON pp.cell = u.cell AND pp.i = u.i
         |)""".stripMargin
    }
    s"""${p}c0 AS MATERIALIZED (
       |  SELECT init16.cell, e.i, e.v AS cv
       |  FROM init16 JOIN $src e USING (vec_id)
       |  WHERE e.i BETWEEN $lo AND $hi
       |),
       |${(1 to PQ_ITERS).map(iter).mkString(",\n")},
       |${p}af AS (
       |  SELECT e.vec_id, c.cell,
       |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
       |  FROM $src e JOIN ${p}c$PQ_ITERS c ON e.i = c.i GROUP BY 1, 2
       |), ${p}gf AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ${p}af) WHERE rn = 1
       |), ${p}dq AS (
       |  SELECT e.vec_id AS q_id, c.cell,
       |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d
       |  FROM $src e JOIN ${p}c$PQ_ITERS c ON e.i = c.i
       |  WHERE e.vec_id < 5 GROUP BY 1, 2
       |)""".stripMargin
  }

  /** The shared md5-coin seed ORDER for every 16-codeword chain (raw
    * and residual tiers pick their seed VECTORS from their own source
    * relation, but the seed ids are one deterministic draw).
    */
  private def init16CteFrom(tbl: String,
      cntSql: String = "(SELECT count(*) FROM embeddings)"): String =
    s"""init16 AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell
       |  FROM $tbl
       |  WHERE ${trainPredSql(tbl, PQ_K.toString, ivfTrainCapSql, cntSql)}
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PQ_K
       |)""".stripMargin

  private lazy val init16Cte: String = init16CteFrom("embeddings")

  /** All PQ_M subspace chain bodies (no WITH, no e). */
  private lazy val pqChainBody: String =
    s"""$init16Cte,
       |${(0 until PQ_M).map(pqChainSql).mkString(",\n")}""".stripMargin

  /** The residual relation er = v − centroid(cell(v)) as SQL (needs
    * e, g5, c4 in scope) — shared by every residual-tier oracle
    * (q262/q263/q264/q286 since round 13).
    */
  private lazy val residCteBody: String =
    """er AS MATERIALIZED (
      |  SELECT e.vec_id, e.i, e.v - c.cv AS v
      |  FROM e JOIN g5 USING (vec_id)
      |       JOIN c4 c ON c.cell = g5.cell AND c.i = e.i
      |)""".stripMargin

  /** The four RESIDUAL PQ chains (prefix r, trained over er — the
    * STORED rcodebooks/r-codes replay) plus the shared seed draw and
    * the per-vector residual-code pivot (`rcodes`).
    */
  private lazy val rChainBody: String =
    s"""$init16Cte,
       |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "er", "r")).mkString(",\n")},
       |rcodes AS (
       |  SELECT g0.vec_id, g0.cell AS r0, g1.cell AS r1,
       |         g2.cell AS r2, g3.cell AS r3
       |  FROM r0gf g0 JOIN r1gf g1 USING (vec_id)
       |       JOIN r2gf g2 USING (vec_id) JOIN r3gf g3 USING (vec_id)
       |)""".stripMargin

  /** The corpus query relation of the stored-index oracles (the
    * mirror of [[corpusQueries]]).
    */
  private val corpusQeSql = "qe AS (SELECT vec_id AS q_id, i, v FROM e WHERE vec_id < 5)"

  /** The IVFADC probe, candidate fetch and ADC scores as SQL (the
    * mirror of [[ivfadcCandidates]], the same `enc` switch): expects a
    * `qe(q_id, i, v)` query CTE, e/c4/g5 and the chains plus code
    * pivot of the encoding in scope — raw s-chains with `codes`,
    * residual [[rChainBody]] (rcodes), OPQ-rotated [[oChainBody]]
    * (ocodes). Defines norms and the probe ranking `pr`, the
    * per-encoding lookup tables (per query from qe; per (query,
    * probed cell) from the residual qr = qe − probed centroid, or its
    * rotation qrr = R·qr), the optionally self-excluded candidates
    * `cand0`, their count `nc`, and `cand(q_id, id2, adc)`.
    */
  private def ivfadcCandSql(enc: String, exclude: Boolean): String = {
    val (qx, keys, cb) = enc match {
      case "c" => ("qe", Seq("q_id"), "s")
      case "r" => ("qr", Seq("q_id", "cell"), "r")
      case "o" => ("qrr", Seq("q_id", "cell"), "o")
    }
    val codes = if (enc == "c") "codes" else s"${enc}codes"
    val qr =
      s""", qr AS MATERIALIZED (
         |  SELECT pr.q_id, pr.cell, q.i, q.v - c.cv AS v
         |  FROM pr JOIN qe q ON q.q_id = pr.q_id
         |       JOIN c4 c ON c.cell = pr.cell AND c.i = q.i
         |)""".stripMargin
    val qrr =
      s""", qrr AS MATERIALIZED (
         |  SELECT qr.q_id, qr.cell, r.i,
         |         sum((CAST(r.q AS DOUBLE) / $PCA_SCALE.0) * qr.v) AS v
         |  FROM ns$OPQ_NS_ITERS r JOIN qr ON qr.i = r.j
         |  GROUP BY 1, 2, 3
         |)""".stripMargin
    s"""qn AS (SELECT q_id, sqrt(sum(v*v)) AS nrm FROM qe GROUP BY 1),
       |cnn AS (SELECT cell, sqrt(sum(cv*cv)) AS cn FROM c4 GROUP BY 1),
       |ccos AS (
       |  SELECT q.q_id, c.cell, sum(q.v * c.cv) AS dot
       |  FROM qe q JOIN c4 c ON q.i = c.i GROUP BY 1, 2
       |), pr AS (
       |  SELECT q_id, cell FROM (
       |    SELECT ccos.q_id, ccos.cell, row_number() OVER (
       |        PARTITION BY ccos.q_id
       |        ORDER BY ccos.dot/(nq.nrm*cnn.cn) DESC, ccos.cell) AS pr
       |    FROM ccos JOIN qn nq ON ccos.q_id = nq.q_id
       |              JOIN cnn ON ccos.cell = cnn.cell)
       |  WHERE pr <= 4
       |)${if (enc == "c") "" else qr}${if (enc == "o") qrr else ""},
       |${(0 until PQ_M).map(sb =>
           s"""${enc}dq$sb AS (
              |  SELECT ${keys.map(k => s"$qx.$k").mkString(", ")}, c.cell AS code,
              |         sum($qx.v*$qx.v) - 2*sum($qx.v*c.cv) + sum(c.cv*c.cv) AS d
              |  FROM $qx JOIN $cb${sb}c$PQ_ITERS c ON $qx.i = c.i
              |  GROUP BY ${(1 to keys.size + 1).mkString(", ")}
              |)""".stripMargin).mkString(",\n")},
       |cand0 AS (
       |  SELECT pr.q_id, g5.vec_id, g5.cell
       |  FROM pr JOIN g5 ON pr.cell = g5.cell
       |  ${if (exclude) "WHERE g5.vec_id <> pr.q_id" else ""}
       |), nc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
       |          FROM cand0 GROUP BY 1),
       |cand AS (
       |  SELECT cd.q_id, cd.vec_id AS id2,
       |         d0.d + d1.d + d2.d + d3.d AS adc
       |  FROM cand0 cd JOIN $codes ON cd.vec_id = $codes.vec_id
       |${(0 until PQ_M).map(sb =>
           s"  JOIN ${enc}dq$sb d$sb ON ${keys.map(k => s"d$sb.$k = cd.$k").mkString(" AND ")}" +
             s" AND $codes.$enc$sb = d$sb.code").mkString("\n")}
       |)""".stripMargin
  }

  /** The IVFADC serving-tier SQL of the q263, q286 and q294 oracles
    * (the mirror of [[ivfadcServe]]): [[ivfadcCandSql]], then the
    * 50-shortlist, its exact re-rank and the top-5 readout.
    */
  private def ivfadcTailSql(enc: String, exclude: Boolean): String =
    s"""${ivfadcCandSql(enc, exclude)}, tr50 AS (
       |  SELECT q_id, id2 FROM (
       |    SELECT q_id, id2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc, id2) AS rn FROM cand)
       |  WHERE rn <= 50
       |), sq AS (SELECT vec_id, sum(v*v) AS s FROM e GROUP BY 1),
       |qsq AS (SELECT q_id, sum(v*v) AS s FROM qe GROUP BY 1),
       |dt AS (
       |  SELECT a.q_id, b.vec_id AS id2, sum(a.v*b.v) AS dot
       |  FROM qe a JOIN e b ON a.i = b.i GROUP BY 1, 2
       |), trr AS (
       |  SELECT q_id, id2, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, id2) AS rn
       |  FROM (
       |    SELECT dt.q_id, dt.id2, sa.s - 2*dt.dot + sb.s AS d2
       |    FROM tr50 JOIN dt ON tr50.q_id = dt.q_id AND tr50.id2 = dt.id2
       |         JOIN qsq sa ON dt.q_id = sa.q_id
       |         JOIN sq sb ON dt.id2 = sb.vec_id)
       |)
       |SELECT trr.q_id, nc.n_cand, trr.rn, trr.id2 AS neighbor_id,
       |       round(trr.d2, 4) AS l2_4
       |FROM trr JOIN nc ON trr.q_id = nc.q_id
       |WHERE trr.rn <= 5
       |ORDER BY trr.q_id, trr.rn""".stripMargin

  /** The fixed RR-PQ rotation as SQL (no WITH, needs e): the signed
    * diagonal from the md5('rot'||i) coin ([[hdSigns]] computes the
    * identical draw on the JVM), then the rotated corpus from the
    * Walsh-Hadamard closed form H[j][i] = (−1)^bit_count((j−1)&(i−1)),
    * scaled by /8 = 1/√64 (exact in binary fp, so the scaling itself
    * adds no rounding on either engine). DuckDB's per-(vec,dim) sums
    * associate differently than the kernel's butterfly — the usual
    * O(ulp) drift the argmin-margin bound absorbs (rotated chains are
    * in the VectorOpsSpec margin audit). er is MATERIALIZED: the four
    * PQ chains reference it repeatedly (the round-9 CTE-inlining
    * incident class).
    */
  private def rotCteBodyP(name: String): String =
    s"""sg AS MATERIALIZED (
       |  SELECT i, CASE WHEN CAST(('0x' || substr(md5('rot' || CAST(i AS VARCHAR)), 1, 8))
       |                      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM range(1, 65) t(i)
       |), $name AS MATERIALIZED (
       |  SELECT e.vec_id, d.j AS i,
       |         sum(CASE WHEN bit_count(CAST(d.j - 1 AS BIGINT) & CAST(e.i - 1 AS BIGINT)) % 2 = 0
       |                  THEN e.v * sg.sgn ELSE -(e.v * sg.sgn) END) / 8 AS v
       |  FROM e JOIN sg ON e.i = sg.i CROSS JOIN range(1, 65) d(j)
       |  GROUP BY 1, 2
       |)""".stripMargin

  private lazy val rotCteBody: String = rotCteBodyP("er")

  /** All PQ_M subspace chains plus the shared exploded/init prefix. */
  private lazy val pqPrefixCte: String = s"WITH $eCteBody,\n$pqChainBody"

  /** The fixed-point Newton–Schulz iterations of q287's Procrustes
    * step, unrolled: B = XᵀX with a sign-split renorm by S, then
    * X(3S·I − B) with a sign-split renorm by 2S — exact BIGINT
    * mirrors of [[nsStep]] (sign-split division truncates toward
    * zero on both engines whatever their native rounding —
    * DuckDB-version-proof).
    */
  private lazy val nsIterSql: String = (1 to OPQ_NS_ITERS).map { t =>
    val prev = s"ns${t - 1}"
    s"""nsb$t AS (
       |  SELECT bi, bj, CAST(sign(p) AS BIGINT) * (abs(p) // $PCA_SCALE) AS bq
       |  FROM (SELECT a.j AS bi, b.j AS bj, sum(a.q * b.q) AS p
       |        FROM $prev a JOIN $prev b ON a.i = b.i GROUP BY 1, 2)
       |), ns$t AS MATERIALIZED (
       |  SELECT i, j, CAST(sign(p) AS BIGINT) * (abs(p) // ${2 * PCA_SCALE}) AS q
       |  FROM (SELECT x.i, c.bj AS j, sum(x.q * c.c) AS p
       |        FROM $prev x JOIN (
       |          SELECT bi, bj,
       |                 (CASE WHEN bi = bj THEN ${3 * PCA_SCALE} ELSE 0 END) - bq AS c
       |          FROM nsb$t) c ON x.j = c.bi
       |        GROUP BY 1, 2)
       |)""".stripMargin
  }.mkString(",\n")

  /** The q287 OPQ-NP chain body (no WITH, needs e): the fixed H·D
    * rotation, the four PQ chains over it (q265's substrate, prefix
    * t — shared with the q266 oracle), the reconstruction Ŷ from the
    * final codes/codebooks, the cross-covariance M = Ŷ·Xᵀ, the
    * power-of-two Frobenius normalization (bit length of ⌈‖M‖_F⌉ —
    * no log2, whose last ulp could differ across engines), the ONE
    * float→int quantization (margins audited in VectorOpsSpec), and
    * the exact-integer NS iterations.
    */
  private def opqChainBodyP(src: String, withInit: Boolean): String = {
    val yhatArms = (0 until PQ_M).map(sb =>
      s"  SELECT g.vec_id, c.i, c.cv AS y FROM t${sb}gf g " +
        s"JOIN t${sb}c$PQ_ITERS c ON g.cell = c.cell")
    s"""${rotCteBodyP(src)},
       |${if (withInit) init16Cte + ",\n" else ""}${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, src, "t")).mkString(",\n")},
       |yhat AS (
       |${yhatArms.mkString("\n  UNION ALL\n")}
       |), mm AS MATERIALIZED (
       |  SELECT y.i, x.i AS j, sum(y.y * x.v) AS m
       |  FROM yhat y JOIN e x ON y.vec_id = x.vec_id
       |  GROUP BY 1, 2
       |), kk AS MATERIALIZED (
       |  SELECT length(bin(CAST(ceil(sqrt(sum(m * m))) AS BIGINT))) AS k FROM mm
       |), ns0 AS MATERIALIZED (
       |  SELECT i, j, CAST(floor(m * pow(2.0, 20 - k)) AS BIGINT)
       |         + (CASE WHEN bit_count(CAST(i - 1 AS BIGINT) & CAST(j - 1 AS BIGINT)) % 2 = 0
       |                 THEN 8192 ELSE -8192 END)
       |           * (CASE WHEN CAST(('0x' || substr(md5('rot' || CAST(j AS VARCHAR)), 1, 8))
       |                        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS q
       |  FROM mm CROSS JOIN kk
       |),
       |$nsIterSql""".stripMargin
  }

  private lazy val opqChainBody: String = opqChainBodyP("er", withInit = true)

  /** The OPQ chain + rotated-residual encoding chains for the stored
    * o-tier oracles (q293-q295): the q287 chain re-instanced with the
    * H·D-rotated corpus renamed `hr` (in stored-index oracles `er` is
    * the RESIDUAL relation), the rotated-residual relation
    * err = R·er (the exact mirror of the build's graft_matvec over
    * the dyadic q/2^20 entries — per-dim sums differ by the usual
    * O(ulp) the argmin-margin audit absorbs), the four o-Lloyd chains
    * over err, and the per-vector o-code pivot. Expects e, er, init16
    * in scope.
    */
  private lazy val oChainBody: String =
    s"""${opqChainBodyP("hr", withInit = false)},
       |err AS MATERIALIZED (
       |  SELECT er.vec_id, r.i, sum((CAST(r.q AS DOUBLE) / $PCA_SCALE.0) * er.v) AS v
       |  FROM ns$OPQ_NS_ITERS r JOIN er ON er.i = r.j
       |  GROUP BY 1, 2
       |),
       |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "err", "o")).mkString(",\n")},
       |ocodes AS (
       |  SELECT g0.vec_id, g0.cell AS o0, g1.cell AS o1,
       |         g2.cell AS o2, g3.cell AS o3
       |  FROM o0gf g0 JOIN o1gf g1 USING (vec_id)
       |       JOIN o2gf g2 USING (vec_id) JOIN o3gf g3 USING (vec_id)
       |)""".stripMargin

  /** The per-vector code pivot of the `$pfx` PQ chains, as `codes`
    * (vec_id, c0..c3).
    */
  private def pqCodesSql(pfx: String): String =
    s"""codes AS (
       |  SELECT g0.vec_id, g0.cell AS c0, g1.cell AS c1,
       |         g2.cell AS c2, g3.cell AS c3
       |  FROM ${pfx}0gf g0 JOIN ${pfx}1gf g1 USING (vec_id)
       |       JOIN ${pfx}2gf g2 USING (vec_id) JOIN ${pfx}3gf g3 USING (vec_id)
       |)""".stripMargin

  /** The recall tail of every ADC audit oracle (the mirror of
    * [[adcRecall]]): expects `cand(q_id, id2, adc)` and raw `e` in
    * scope, plus `nc(q_id, n_cand)` when `nCand`. Ranks by
    * (adc, id2), keeps the ADC top-5 and the 50-shortlist, re-ranks
    * the shortlist exactly in raw space, and counts both tiers'
    * overlap with the exact top-5 of queries vec_id < 5.
    */
  private def adcRecallSql(nCand: Boolean): String =
    s"""rk AS (
       |  SELECT q_id, id2, row_number() OVER (
       |    PARTITION BY q_id ORDER BY adc, id2) AS rn FROM cand
       |), ta AS (SELECT q_id, id2 FROM rk WHERE rn <= 5),
       |tr50 AS (SELECT q_id, id2 FROM rk WHERE rn <= 50),
       |sq AS (SELECT vec_id, sum(v*v) AS s FROM e GROUP BY 1),
       |dt AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS id2, sum(a.v*b.v) AS dot
       |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 5
       |                    AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2
       |), te AS (
       |  SELECT q_id, id2 FROM (
       |    SELECT dt.q_id, dt.id2, row_number() OVER (
       |      PARTITION BY dt.q_id
       |      ORDER BY sa.s - 2*dt.dot + sb.s, dt.id2) AS rn
       |    FROM dt JOIN sq sa ON dt.q_id = sa.vec_id
       |            JOIN sq sb ON dt.id2 = sb.vec_id)
       |  WHERE rn <= 5
       |), trr AS (
       |  SELECT q_id, id2 FROM (
       |    SELECT dt.q_id, dt.id2, row_number() OVER (
       |      PARTITION BY dt.q_id
       |      ORDER BY sa.s - 2*dt.dot + sb.s, dt.id2) AS rn
       |    FROM tr50 JOIN dt ON tr50.q_id = dt.q_id AND tr50.id2 = dt.id2
       |              JOIN sq sa ON dt.q_id = sa.vec_id
       |              JOIN sq sb ON dt.id2 = sb.vec_id)
       |  WHERE rn <= 5
       |), ova AS (
       |  SELECT ta.q_id, CAST(count(te.id2) AS BIGINT) AS n_overlap_adc
       |  FROM ta LEFT JOIN te ON ta.q_id = te.q_id AND ta.id2 = te.id2
       |  GROUP BY 1
       |), ovr AS (
       |  SELECT trr.q_id, CAST(count(te.id2) AS BIGINT) AS n_overlap_rerank
       |  FROM trr LEFT JOIN te ON trr.q_id = te.q_id AND trr.id2 = te.id2
       |  GROUP BY 1
       |)
       |SELECT ova.q_id,${if (nCand) " nc.n_cand," else ""} n_overlap_adc,
       |       CAST(n_overlap_adc * 2000 AS BIGINT) AS recall_adc_bp,
       |       n_overlap_rerank,
       |       CAST(n_overlap_rerank * 2000 AS BIGINT) AS recall_rerank_bp
       |FROM ova JOIN ovr ON ova.q_id = ovr.q_id${if (nCand) " JOIN nc ON nc.q_id = ova.q_id" else ""}
       |ORDER BY ova.q_id""".stripMargin

  /** The full-corpus PQ recall oracle of q260 (raw, prefix s), q266
    * (H·D-rotated, t) and q288 (OPQ-rotated, o) — the mirror of
    * [[pqScanRecall]]: expects the `$pfx{sb}gf` code and
    * `$pfx{sb}dq` query-distance CTEs plus raw `e` in scope; ADC over
    * every code row (self excluded), then the [[adcRecallSql]] tail —
    * exact reference and re-rank in raw space.
    */
  private def rotAdcTailSql(pfx: String): String =
    s"""${pqCodesSql(pfx)}, cand AS (
       |  SELECT d0.q_id, codes.vec_id AS id2,
       |         d0.d + d1.d + d2.d + d3.d AS adc
       |  FROM codes
       |  JOIN ${pfx}0dq d0 ON codes.c0 = d0.cell
       |  JOIN ${pfx}1dq d1 ON d1.q_id = d0.q_id AND codes.c1 = d1.cell
       |  JOIN ${pfx}2dq d2 ON d2.q_id = d0.q_id AND codes.c2 = d2.cell
       |  JOIN ${pfx}3dq d3 ON d3.q_id = d0.q_id AND codes.c3 = d3.cell
       |  WHERE codes.vec_id <> d0.q_id
       |), ${adcRecallSql(nCand = false)}""".stripMargin

  /** The LSH signature substrate as a WITH-chain: the 8×64 fixed-seed
    * plane constants as full-precision %.17E literals (DOUBLE-lexed in
    * DuckDB, exact JVM-double round-trip), exploded doubles, per-plane
    * dots, and the per-vector 8-bit signature. Shared by the q258
    * histogram oracle and the full q118 oracle.
    */
  private lazy val lshChainCte: String = {
    val planeRows =
      for ((p, h) <- rhPlanes.zipWithIndex; i <- 0 until 64)
        yield s"($h, ${i + 1}, ${"%.17E".formatLocal(java.util.Locale.ROOT, p(i))})"
    s"""WITH pl(h, i, c) AS (VALUES ${planeRows.mkString(", ")}),
       |e AS (
       |  SELECT vec_id, generate_subscripts(embedding,1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings
       |), d AS (
       |  SELECT e.vec_id, pl.h, sum(e.v * pl.c) AS dp
       |  FROM e JOIN pl ON e.i = pl.i GROUP BY 1, 2
       |), sg AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN dp > 0 THEN 1 << h ELSE 0 END) AS BIGINT) AS sig
       |  FROM d GROUP BY 1
       |)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Dialect note: DuckDB CAST(double AS INT) rounds where Spark
    // truncates — CAST(trunc(x) AS INT) (values are non-negative, so
    // trunc == Spark's floor-based code).
    "q105_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding,1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), st AS (
        |  SELECT i, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1
        |), q AS (
        |  SELECT vec_id,
        |         CAST(trunc(CASE WHEN mx > mn THEN (v-mn)/(mx-mn)*255.0 ELSE 0.0 END) AS INT) AS code,
        |         v, mn, mx
        |  FROM e JOIN st USING (i)
        |)
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS sum_code,
        |       round(max(abs(v - (mn + code*(mx-mn)/255.0))), 6) AS max_abs_err
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Transitive closure over the exact within-label cosine pair graph
    // (q64's pair CTE), canonical = min over self ∪ reachable — the
    // same recursive-CTE shape as q67's oracle.
    "q106_semantic_canonical" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, label, unnest(embedding) AS v,
         |                  generate_subscripts(embedding,1) AS i FROM embeddings),
         |n AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE)*CAST(v AS DOUBLE))) AS nrm
         |      FROM e GROUP BY 1),
         |d AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |             sum(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE)) AS dot
         |      FROM e a JOIN e b ON a.i = b.i AND a.label = b.label
         |                        AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2),
         |pr AS (
         |  SELECT id1, id2 FROM d JOIN n n1 ON id1 = n1.vec_id JOIN n n2 ON id2 = n2.vec_id
         |  WHERE dot/(n1.nrm*n2.nrm) >= 0.35
         |), eg(a, b) AS (
         |  SELECT id1, id2 FROM pr UNION SELECT id2, id1 FROM pr
         |), reach(a, b) AS (
         |  SELECT a, b FROM eg
         |  UNION
         |  SELECT r.a, eg.b FROM reach r JOIN eg ON r.b = eg.a
         |)
         |SELECT a AS vec_id, CAST(least(a, min(b)) AS BIGINT) AS canonical_id
         |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,

    "q64_embedding_neardup" ->
      s"""$embCte,
         |d AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |             sum(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE)) AS dot
         |      FROM e a JOIN e b ON a.i = b.i AND a.label = b.label
         |                        AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2)
         |SELECT id1, id2, round(dot/(n1.nrm*n2.nrm), 4) AS cos_sim
         |FROM d JOIN n n1 ON id1 = n1.vec_id JOIN n n2 ON id2 = n2.vec_id
         |WHERE dot/(n1.nrm*n2.nrm) >= 0.35
         |ORDER BY id1, id2""".stripMargin,

    "q65_ann_topk_bruteforce" ->
      s"""$embCte,
         |d AS (SELECT a.vec_id AS q_id, b.vec_id AS id2,
         |             sum(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE)) AS dot
         |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 5
         |                        AND b.vec_id <> a.vec_id
         |      GROUP BY 1, 2),
         |c AS (SELECT q_id, id2, dot/(n1.nrm*n2.nrm) AS cos
         |      FROM d JOIN n n1 ON q_id = n1.vec_id JOIN n n2 ON id2 = n2.vec_id),
         |r AS (SELECT q_id, id2, cos,
         |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id2) AS rn
         |      FROM c)
         |SELECT q_id, rn, id2 AS neighbor_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    "q124_semantic_source_affinity" ->
      """WITH e AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding,1) AS i FROM embeddings),
        |cent AS (SELECT label, i, avg(v) AS cv FROM e GROUP BY 1, 2),
        |sz AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |nr AS (SELECT label, sum(cv*cv) AS m FROM cent GROUP BY 1),
        |p AS (SELECT a.label AS l1, b.label AS l2, sum(a.cv*b.cv) AS dot
        |      FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT p.l1, p.l2, CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
        |       round(p.dot/(sqrt(na.m)*sqrt(nb.m)), 4) AS cos4
        |FROM p JOIN sz s1 ON p.l1 = s1.label JOIN sz s2 ON p.l2 = s2.label
        |       JOIN nr na ON p.l1 = na.label JOIN nr nb ON p.l2 = nb.label
        |ORDER BY p.l1, p.l2""".stripMargin,

    "q126_semantic_dispersion" ->
      """WITH e AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding,1) AS i FROM embeddings),
        |cent AS (SELECT label, i, avg(v) AS cv FROM e GROUP BY 1, 2),
        |pv AS (
        |  SELECT e.vec_id, e.label,
        |         sum(e.v * c.cv) AS dot, sum(e.v * e.v) AS vn2,
        |         sum(c.cv * c.cv) AS cn2
        |  FROM e JOIN cent c ON e.label = c.label AND e.i = c.i
        |  GROUP BY 1, 2
        |)
        |SELECT label, count(*) AS n,
        |       round(avg(dot/(sqrt(vn2)*sqrt(cn2))), 4) AS avg_cos4,
        |       round(min(dot/(sqrt(vn2)*sqrt(cn2))), 4) AS min_cos4
        |FROM pv GROUP BY label ORDER BY label""".stripMargin,

    "q127_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding,1) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS q_id, b.vec_id AS id2,
        |             sum(a.v * b.v) AS dot
        |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 5
        |                        AND a.label <> b.label
        |      GROUP BY 1, 2),
        |c AS (SELECT q_id, id2, dot/(n1.nrm*n2.nrm) AS cos
        |      FROM d JOIN n n1 ON q_id = n1.vec_id JOIN n n2 ON id2 = n2.vec_id),
        |r AS (SELECT q_id, id2, cos,
        |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id2) AS rn
        |      FROM c)
        |SELECT q_id, rn, id2 AS neg_id, round(cos, 4) AS cos_sim
        |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,

    "q207_embedding_purity" ->
      s"""$embCte,
        |p AS (
        |  SELECT vec_id AS q_id, label AS q_lab FROM embeddings
        |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 50 = 0
        |), d AS (
        |  SELECT p.q_id, p.q_lab, b.vec_id AS id2, b.label AS lab2,
        |         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM p JOIN e a ON a.vec_id = p.q_id
        |         JOIN e b ON a.i = b.i AND b.vec_id <> p.q_id
        |  GROUP BY 1, 2, 3, 4
        |), cs AS (
        |  SELECT q_id, q_lab, id2, lab2, dot / (n1.nrm * n2.nrm) AS cos
        |  FROM d JOIN n n1 ON q_id = n1.vec_id JOIN n n2 ON id2 = n2.vec_id
        |), r AS (
        |  SELECT q_id, q_lab, lab2,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id2) AS rn
        |  FROM cs
        |)
        |SELECT q_lab AS label,
        |       CAST(count(DISTINCT q_id) AS BIGINT) AS n_probes,
        |       CAST(sum(CASE WHEN lab2 = q_lab THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |       (1000000 * CAST(sum(CASE WHEN lab2 = q_lab THEN 1 ELSE 0 END) AS BIGINT))
        |         // (5 * count(DISTINCT q_id)) AS purity_ppm
        |FROM r WHERE rn <= 5
        |GROUP BY 1 ORDER BY label""".stripMargin,

    "q238_embedding_redundancy" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding,1) AS dim FROM embeddings),
        |rng AS (SELECT dim, max(v) - min(v) AS rg FROM e GROUP BY 1),
        |top8 AS (SELECT dim FROM rng ORDER BY rg DESC, dim LIMIT 8),
        |sel AS (SELECT e.vec_id, e.dim, e.v FROM e JOIN top8 USING (dim))
        |SELECT a.dim AS di, b.dim AS dj, CAST(count(*) AS BIGINT) AS n,
        |       round(corr(a.v, b.v), 4) AS corr4
        |FROM sel a JOIN sel b ON a.vec_id = b.vec_id AND a.dim < b.dim
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q231_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding,1) AS i FROM embeddings),
        |dims AS (SELECT unnest([8,16,32,64]) AS dim),
        |ev AS (SELECT dims.dim, e.vec_id, e.i, e.v
        |       FROM e JOIN dims ON e.i <= dims.dim),
        |n AS (SELECT dim, vec_id, sqrt(sum(v*v)) AS nrm FROM ev GROUP BY 1, 2),
        |dt AS (SELECT a.dim, a.vec_id AS q_id, b.vec_id AS id2, sum(a.v*b.v) AS dot
        |       FROM ev a JOIN ev b ON a.dim = b.dim AND a.i = b.i
        |                          AND a.vec_id < 5 AND b.vec_id <> a.vec_id
        |       GROUP BY 1, 2, 3),
        |r AS (SELECT dt.dim, q_id, id2,
        |             row_number() OVER (PARTITION BY q_id, dt.dim
        |               ORDER BY dot/(n1.nrm*n2.nrm) DESC, id2) AS rn
        |      FROM dt JOIN n n1 ON dt.dim = n1.dim AND dt.q_id = n1.vec_id
        |              JOIN n n2 ON dt.dim = n2.dim AND dt.id2 = n2.vec_id),
        |top AS (SELECT dim, q_id, id2 FROM r WHERE rn <= 5),
        |full64 AS (SELECT q_id, id2 FROM top WHERE dim = 64)
        |SELECT t.q_id, CAST(t.dim AS BIGINT) AS dim,
        |       CAST(count(f.id2) AS BIGINT) AS n_overlap,
        |       CAST(count(f.id2) * 2000 AS BIGINT) AS recall_bp
        |FROM top t LEFT JOIN full64 f ON t.q_id = f.q_id AND t.id2 = f.id2
        |WHERE t.dim <> 64
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q196_embedding_dim_stats" ->
      """WITH e AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding, 1) AS dim FROM embeddings),
        |st AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n_vals,
        |         avg(v) AS mu0, avg(v * v) AS m2,
        |         min(v) AS v_min, max(v) AS v_max
        |  FROM e GROUP BY 1
        |), sv AS (
        |  SELECT dim, n_vals, mu0,
        |         greatest(m2 - mu0 * mu0, CAST(0 AS DOUBLE)) AS var0,
        |         v_min, v_max
        |  FROM st
        |), t AS (SELECT sum(var0) AS tvar FROM sv)
        |SELECT dim, n_vals, round(mu0, 5) AS mu,
        |       round(sqrt(var0), 5) AS sigma, v_min, v_max,
        |       round(var0 / tvar * 100, 2) AS var_share_pct
        |FROM sv CROSS JOIN t
        |ORDER BY dim""".stripMargin,

    // q66's deterministic substrate, fully replayed: md5-coin init,
    // 4 unrolled Lloyd iterations, final assignment — the per-cell
    // census is the oracle-checkable part of IVF.
    "q257_ivf_cell_audit" ->
      s"""$ivfChainCte,
         |cnt AS (SELECT cell, count(*) AS n FROM g5 GROUP BY 1),
         |nrm AS (SELECT cell, sqrt(sum(cv*cv)) AS cn FROM c4 GROUP BY 1)
         |SELECT CAST(nrm.cell AS BIGINT) AS cell,
         |       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs,
         |       round(nrm.cn, 4) AS cn4
         |FROM nrm LEFT JOIN cnt ON nrm.cell = cnt.cell
         |ORDER BY cell""".stripMargin,

    // The q257 chain re-run under a BINDING cap=4 training sample:
    // DuckDB draws the same md5-prefix sample, fits on it, and
    // assigns the full corpus (g5 is unfiltered by construction).
    "q289_ivf_sampled_train" ->
      s"""WITH $eCteBody,
         |${ivfChainBodyCap("4")},
         |cnt AS (
         |  SELECT g5.cell, count(*) AS n,
         |         sum(CASE WHEN ${trainPredSql("g5", ivfNlistSqlExpr, "4")}
         |             THEN 1 ELSE 0 END) AS nt
         |  FROM g5 GROUP BY 1),
         |nrm AS (SELECT cell, sqrt(sum(cv*cv)) AS cn FROM c4 GROUP BY 1)
         |SELECT CAST(nrm.cell AS BIGINT) AS cell,
         |       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs,
         |       CAST(coalesce(cnt.nt, 0) AS BIGINT) AS n_train,
         |       round(nrm.cn, 4) AS cn4
         |FROM nrm LEFT JOIN cnt ON nrm.cell = cnt.cell
         |ORDER BY cell""".stripMargin,

    // The full two-level replay: super-quantizer over c4, cell→super
    // routing, vector→super argmin restricted to live supers, child-
    // cell argmin, and the per-cell agreement census vs g5.
    "q290_ivf_two_level_assign" ->
      s"""$ivfChainCte,
         |$superChainBody,
         |live AS (SELECT DISTINCT scell FROM sgf),
         |va AS (
         |  SELECT e.vec_id, s.scell,
         |         sum(e.v*e.v) - 2*sum(e.v*s.cv) + sum(s.cv*s.cv) AS d2
         |  FROM e JOIN sc2 s ON e.i = s.i
         |  WHERE s.scell IN (SELECT scell FROM live) GROUP BY 1, 2
         |), vg AS (
         |  SELECT vec_id, scell FROM (
         |    SELECT vec_id, scell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, scell) AS rn
         |    FROM va) WHERE rn <= 2
         |), cd AS (
         |  SELECT vg.vec_id, f.cell FROM vg JOIN sgf f USING (scell)
         |), ta AS (
         |  SELECT cd.vec_id, cd.cell,
         |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
         |  FROM cd JOIN e ON e.vec_id = cd.vec_id
         |          JOIN c4 c ON c.cell = cd.cell AND c.i = e.i
         |  GROUP BY 1, 2
         |), tg AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM ta) WHERE rn = 1
         |), x1 AS (
         |  SELECT g5.cell, count(*) AS n_exact,
         |         sum(CASE WHEN g5.cell = tg.cell THEN 1 ELSE 0 END) AS n_match
         |  FROM g5 JOIN tg USING (vec_id) GROUP BY 1
         |), x2 AS (SELECT cell, count(*) AS n_two FROM tg GROUP BY 1),
         |cl AS (SELECT DISTINCT cell FROM c4)
         |SELECT CAST(cl.cell AS BIGINT) AS cell,
         |       CAST(coalesce(x1.n_exact, 0) AS BIGINT) AS n_exact,
         |       CAST(coalesce(x2.n_two, 0) AS BIGINT) AS n_two_level,
         |       CAST(coalesce(x1.n_match, 0) AS BIGINT) AS n_match
         |FROM cl LEFT JOIN x1 ON cl.cell = x1.cell
         |        LEFT JOIN x2 ON cl.cell = x2.cell
         |ORDER BY cell""".stripMargin,

    // Full IVF oracle (round-8): with the kmeans chain expressible
    // (q257), the probe choice and within-cell top-k are ALSO
    // deterministic — nprobe=4 argmax cells by centroid cosine, exact
    // cosine over probed-cell members. q66 is therefore no longer
    // spec-only; its recall-floor spec stays as the semantic check.
    "q66_ann_topk_ivf" ->
      s"""$ivfChainCte,
         |vn AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM e GROUP BY 1),
         |cn AS (SELECT cell, sqrt(sum(cv*cv)) AS cn FROM c4 GROUP BY 1),
         |ccos AS (
         |  SELECT e.vec_id AS q_id, c.cell, sum(e.v * c.cv) AS dot
         |  FROM e JOIN c4 c ON e.i = c.i WHERE e.vec_id < 5 GROUP BY 1, 2
         |), pr AS (
         |  SELECT q_id, cell FROM (
         |    SELECT ccos.q_id, ccos.cell, row_number() OVER (
         |        PARTITION BY ccos.q_id
         |        ORDER BY ccos.dot/(nq.nrm*cn.cn) DESC, ccos.cell) AS pr
         |    FROM ccos JOIN vn nq ON ccos.q_id = nq.vec_id
         |              JOIN cn ON ccos.cell = cn.cell)
         |  WHERE pr <= 4
         |), cand AS (
         |  SELECT pr.q_id, g5.vec_id AS id2
         |  FROM pr JOIN g5 ON pr.cell = g5.cell
         |  WHERE g5.vec_id <> pr.q_id
         |), dt AS (
         |  SELECT cand.q_id, cand.id2, sum(a.v * b.v) AS dot
         |  FROM cand JOIN e a ON a.vec_id = cand.q_id
         |            JOIN e b ON b.vec_id = cand.id2 AND b.i = a.i
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT q_id, id2, dot/(n1.nrm*n2.nrm) AS cos,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY dot/(n1.nrm*n2.nrm) DESC, id2) AS rn
         |  FROM dt JOIN vn n1 ON dt.q_id = n1.vec_id
         |          JOIN vn n2 ON dt.id2 = n2.vec_id)
         |SELECT q_id, rn, id2 AS neighbor_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // PQ codebook census: all four subspace kmeans chains replayed,
    // absolute-dim indexed.
    "q259_pq_codebook" -> {
      val censusArms = (0 until PQ_M).map { sb =>
        s"""  SELECT CAST($sb AS BIGINT) AS sub, CAST(n.cell AS BIGINT) AS cell,
           |         CAST(coalesce(c.n, 0) AS BIGINT) AS n_vecs,
           |         round(n.cn, 4) AS cn4
           |  FROM (SELECT cell, sqrt(sum(cv*cv)) AS cn
           |        FROM s${sb}c$PQ_ITERS GROUP BY 1) n
           |  LEFT JOIN (SELECT cell, count(*) AS n
           |             FROM s${sb}gf GROUP BY 1) c ON n.cell = c.cell""".stripMargin
      }
      s"""$pqPrefixCte,
         |census AS (
         |${censusArms.mkString("\n  UNION ALL\n")}
         |)
         |SELECT sub, cell, n_vecs, cn4 FROM census ORDER BY sub, cell""".stripMargin
    },

    // PQ ADC recall vs exact L2: the fixed-order d0+d1+d2+d3 table
    // lookup mirrors the Spark expression exactly, so equal-code ties
    // are bit-equal on both engines.
    "q260_pq_adc_recall" ->
      s"""$pqPrefixCte,
         |${rotAdcTailSql("s")}""".stripMargin,

    // IVFADC: q66's probe chain + q259's code chains composed, all
    // replayed.
    "q261_ivfadc_recall" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$pqChainBody,
         |${pqCodesSql("s")},
         |$corpusQeSql,
         |${ivfadcCandSql("c", exclude = true)},
         |${adcRecallSql(nCand = true)}""".stripMargin,

    // q118's signature substrate (see lshChainCte for the embedded
    // plane constants).
    "q258_lsh_bucket_audit" ->
      s"""$lshChainCte
         |SELECT sig, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM sg GROUP BY 1 ORDER BY sig""".stripMargin,

    // Full LSH oracle (round-8): hamming-2 multiprobe over the exact
    // 37-mask set is equivalent to bit_count(xor(sig_q, sig_c)) <= 2
    // on the 8-bit signatures, so the whole q118 result — candidates
    // and exact-cosine top-k — is SQL-expressible. No longer
    // spec-only; the recall-vs-chance spec stays as the semantic
    // check.
    "q118_ann_topk_lsh" ->
      s"""$lshChainCte,
         |vn AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM e GROUP BY 1),
         |cand AS (
         |  SELECT q.vec_id AS q_id, sg.vec_id AS id2
         |  FROM sg q JOIN sg ON bit_count(xor(q.sig, sg.sig)) <= 2
         |  WHERE q.vec_id < 5 AND sg.vec_id <> q.vec_id
         |), dt AS (
         |  SELECT cand.q_id, cand.id2, sum(a.v * b.v) AS dot
         |  FROM cand JOIN e a ON a.vec_id = cand.q_id
         |            JOIN e b ON b.vec_id = cand.id2 AND b.i = a.i
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT q_id, id2, dot/(n1.nrm*n2.nrm) AS cos,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY dot/(n1.nrm*n2.nrm) DESC, id2) AS rn
         |  FROM dt JOIN vn n1 ON dt.q_id = n1.vec_id
         |          JOIN vn n2 ON dt.id2 = n2.vec_id)
         |SELECT q_id, rn, id2 AS neighbor_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // IVFADC build tier: the stored-codes census — the q66 cell chain
    // (g5) crossed with the q259 raw code chains (s{sb}gf) AND the
    // q264 residual code chains (r{sb}gf over er), aggregated per
    // cell with code-sum checksums for BOTH encodings. What Spark
    // reads back from the partitioned parquet must equal this replay
    // bit-for-bit.
    "q262_ivfadc_index_build" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$pqChainBody,
         |$residCteBody,
         |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "er", "r")).mkString(",\n")},
         |codes AS (
         |  SELECT g0.vec_id, g0.cell AS c0, g1.cell AS c1,
         |         g2.cell AS c2, g3.cell AS c3
         |  FROM s0gf g0 JOIN s1gf g1 USING (vec_id)
         |       JOIN s2gf g2 USING (vec_id) JOIN s3gf g3 USING (vec_id)
         |),
         |rcodes AS (
         |  SELECT g0.vec_id, g0.cell AS r0, g1.cell AS r1,
         |         g2.cell AS r2, g3.cell AS r3
         |  FROM r0gf g0 JOIN r1gf g1 USING (vec_id)
         |       JOIN r2gf g2 USING (vec_id) JOIN r3gf g3 USING (vec_id)
         |)
         |SELECT CAST(g5.cell AS BIGINT) AS cell,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(codes.c0) AS BIGINT) AS sum_c0,
         |       CAST(sum(codes.c1) AS BIGINT) AS sum_c1,
         |       CAST(sum(codes.c2) AS BIGINT) AS sum_c2,
         |       CAST(sum(codes.c3) AS BIGINT) AS sum_c3,
         |       CAST(sum(rcodes.r0) AS BIGINT) AS sum_r0,
         |       CAST(sum(rcodes.r1) AS BIGINT) AS sum_r1,
         |       CAST(sum(rcodes.r2) AS BIGINT) AS sum_r2,
         |       CAST(sum(rcodes.r3) AS BIGINT) AS sum_r3
         |FROM g5 JOIN codes USING (vec_id) JOIN rcodes USING (vec_id)
         |GROUP BY 1 ORDER BY cell""".stripMargin,

    // IVFADC query tier: the chains reconstruct the identical stored
    // bits (centroids, cell assignment, RESIDUAL codebooks + codes —
    // the production encoding since round 13), then the probe/ADC
    // tail runs to the actual retrieval result — per-rank rows with
    // the exact re-ranked L2, instead of q261's recall summary.
    "q263_ivfadc_query" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$rChainBody,
         |$corpusQeSql,
         |${ivfadcTailSql("r", exclude = true)}""".stripMargin,

    // External-query IVFADC: the qe relation is generated from the
    // same exact integer/dyadic formula as the Spark side (no corpus
    // read, no libm), the index bits replay through the shared chains,
    // and the tail is q263's minus the self-exclusion. The residual
    // dq tables build from qe − probed centroid (the chain fragment's
    // own dq CTE is hardwired to corpus probes).
    "q286_ivfadc_external_query" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$rChainBody,
         |qe AS MATERIALIZED (
         |  SELECT q_id, i,
         |         CAST((q_id * 31 + i * 17) % 13 - 6 AS DOUBLE) / 8.0 AS v
         |  FROM generate_series(0, ${EXTQ_N - 1}) t(q_id)
         |       CROSS JOIN generate_series(1, 64) s(i)
         |),
         |${ivfadcTailSql("r", exclude = false)}""".stripMargin,

    // Residual IVFADC: the residual relation er is a pure function of
    // the replayed IVF chain; the residual PQ chains reuse the SAME
    // parameterized Lloyd template over er; the query distance tables
    // are per probed cell (qr = query residual wrt that centroid).
    "q264_ivfadc_residual" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$rChainBody,
         |$corpusQeSql,
         |${ivfadcCandSql("r", exclude = true)},
         |${adcRecallSql(nCand = true)}""".stripMargin,

    // OPQ-rotated-residual build census: the full composition
    // replayed — IVF chain (dial-routed g5), residuals, the q287 OPQ
    // chain (hr-instanced), the rotated-residual o-chains — then the
    // same per-cell checksum rollup q262 runs on the r/c encodings.
    "q293_opq_residual_build" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$init16Cte,
         |$oChainBody
         |SELECT CAST(g5.cell AS BIGINT) AS cell,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(ocodes.o0) AS BIGINT) AS sum_o0,
         |       CAST(sum(ocodes.o1) AS BIGINT) AS sum_o1,
         |       CAST(sum(ocodes.o2) AS BIGINT) AS sum_o2,
         |       CAST(sum(ocodes.o3) AS BIGINT) AS sum_o3
         |FROM g5 JOIN ocodes USING (vec_id)
         |GROUP BY 1 ORDER BY cell""".stripMargin,

    // OPQ-rotated-residual query tier: the chains reconstruct the
    // stored o-bits (incl. the trained rotation), then the q263 tail
    // with the one extra rotated-query-residual CTE.
    "q294_opq_ivfadc_query" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$init16Cte,
         |$oChainBody,
         |$corpusQeSql,
         |${ivfadcTailSql("o", exclude = true)}""".stripMargin,

    // OPQ-rotated-residual recall audit: the q264 composition on the
    // o-chains — the query residual rotates (qrr) before the dq
    // tables, codes come from the o-pivot, exact reference and
    // re-rank stay in raw space.
    "q295_opq_residual_recall" ->
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$init16Cte,
         |$oChainBody,
         |$corpusQeSql,
         |${ivfadcCandSql("o", exclude = true)},
         |${adcRecallSql(nCand = true)}""".stripMargin,

    // Incremental add: yesterday's frozen state replayed from scratch
    // over the OLD subset (its own init/nlist/train-sample draws, all
    // count-parameterized to the old corpus), then the delta's
    // frozen-centroid assignment + frozen-codebook encode, then the
    // same per-cell census of the appended rows.
    "q298_ivfadc_incremental_add" -> {
      val cntOld = "(SELECT count(*) FROM oldemb)"
      val kOld = sys.env.getOrElse("SPARK_GRAFT_IVF_NLIST",
        s"greatest(10, CAST(ceil(sqrt($cntOld)) AS BIGINT))")
      val dCodeChains = (0 until PQ_M).map { sb =>
        s"""dr${sb}a AS (
           |  SELECT erd.vec_id, c.cell,
           |         sum(erd.v*erd.v) - 2*sum(erd.v*c.cv) + sum(c.cv*c.cv) AS d2
           |  FROM erd JOIN r${sb}c$PQ_ITERS c ON erd.i = c.i GROUP BY 1, 2
           |), dr${sb}g AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT vec_id, cell, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
           |    FROM dr${sb}a) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH cut AS MATERIALIZED (
         |  SELECT (4 * max(vec_id)) // 5 AS cut FROM embeddings
         |), oldemb AS MATERIALIZED (
         |  SELECT embeddings.* FROM embeddings, cut WHERE vec_id <= cut.cut
         |), e AS MATERIALIZED (
         |  SELECT vec_id, generate_subscripts(embedding,1) AS i,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM oldemb
         |),
         |${ivfTrainChainCap(ivfTrainCapSql, "oldemb", kOld, cntOld)},
         |a5 AS (
         |  SELECT e.vec_id, c.cell,
         |         sum(e.v*e.v) - 2*sum(e.v*c.cv) + sum(c.cv*c.cv) AS d2
         |  FROM e JOIN c4 c ON e.i = c.i GROUP BY 1, 2
         |), g5 AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM a5) WHERE rn = 1
         |),
         |$residCteBody,
         |${init16CteFrom("oldemb", cntOld)},
         |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "er", "r", cntOld)).mkString(",\n")},
         |ed AS MATERIALIZED (
         |  SELECT vec_id, generate_subscripts(embedding,1) AS i,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings, cut WHERE vec_id > cut.cut
         |), da AS (
         |  SELECT ed.vec_id, c.cell,
         |         sum(ed.v*ed.v) - 2*sum(ed.v*c.cv) + sum(c.cv*c.cv) AS d2
         |  FROM ed JOIN c4 c ON ed.i = c.i GROUP BY 1, 2
         |), dg AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM da) WHERE rn = 1
         |), erd AS MATERIALIZED (
         |  SELECT ed.vec_id, ed.i, ed.v - c.cv AS v
         |  FROM ed JOIN dg USING (vec_id)
         |       JOIN c4 c ON c.cell = dg.cell AND c.i = ed.i
         |),
         |$dCodeChains
         |SELECT CAST(dg.cell AS BIGINT) AS cell,
         |       CAST(count(*) AS BIGINT) AS n_new,
         |       CAST(sum(g0.cell) AS BIGINT) AS sum_r0,
         |       CAST(sum(g1.cell) AS BIGINT) AS sum_r1,
         |       CAST(sum(g2.cell) AS BIGINT) AS sum_r2,
         |       CAST(sum(g3.cell) AS BIGINT) AS sum_r3
         |FROM dg JOIN dr0g g0 USING (vec_id) JOIN dr1g g1 USING (vec_id)
         |     JOIN dr2g g2 USING (vec_id) JOIN dr3g g3 USING (vec_id)
         |GROUP BY 1 ORDER BY cell""".stripMargin
    },

    // Stored-index add: the index bits replay through the shared
    // stored chains (dial-routed g5, residual codebooks over er),
    // the add batch generates from the exact dyadic formula, and the
    // assign + encode algebra is the same argmin discipline as the
    // corpus encode (ties break on cell both sides).
    "q300_ivfadc_add_stored" -> {
      val addCodeChains = (0 until PQ_M).map { sb =>
        s"""qr${sb}a AS (
           |  SELECT qr.q_id, c.cell,
           |         sum(qr.v*qr.v) - 2*sum(qr.v*c.cv) + sum(c.cv*c.cv) AS d2
           |  FROM qr JOIN r${sb}c$PQ_ITERS c ON qr.i = c.i GROUP BY 1, 2
           |), qr${sb}g AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q_id, cell, row_number() OVER (
           |      PARTITION BY q_id ORDER BY d2, cell) AS rn
           |    FROM qr${sb}a) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $eCteBody,
         |$ivfChainBodyStored,
         |$residCteBody,
         |$rChainBody,
         |qe AS MATERIALIZED (
         |  SELECT q_id, i,
         |         CAST((q_id * 31 + i * 17) % 13 - 6 AS DOUBLE) / 8.0 AS v
         |  FROM generate_series(0, ${ADDQ_N - 1}) t(q_id)
         |       CROSS JOIN generate_series(1, 64) s(i)
         |), qa AS (
         |  SELECT qe.q_id, c.cell,
         |         sum(qe.v*qe.v) - 2*sum(qe.v*c.cv) + sum(c.cv*c.cv) AS d2
         |  FROM qe JOIN c4 c ON qe.i = c.i GROUP BY 1, 2
         |), qg AS MATERIALIZED (
         |  SELECT q_id, cell FROM (
         |    SELECT q_id, cell, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2, cell) AS rn
         |    FROM qa) WHERE rn = 1
         |), qr AS MATERIALIZED (
         |  SELECT qe.q_id, qe.i, qe.v - c.cv AS v
         |  FROM qe JOIN qg USING (q_id)
         |       JOIN c4 c ON c.cell = qg.cell AND c.i = qe.i
         |),
         |$addCodeChains
         |SELECT CAST(qg.q_id AS BIGINT) AS add_id,
         |       CAST(qg.cell AS BIGINT) AS cell,
         |       CAST(g0.cell AS BIGINT) AS r0, CAST(g1.cell AS BIGINT) AS r1,
         |       CAST(g2.cell AS BIGINT) AS r2, CAST(g3.cell AS BIGINT) AS r3
         |FROM qg JOIN qr0g g0 USING (q_id) JOIN qr1g g1 USING (q_id)
         |     JOIN qr2g g2 USING (q_id) JOIN qr3g g3 USING (q_id)
         |ORDER BY add_id""".stripMargin
    },

    // RR-PQ codebook census: rebuild the rotation from the closed
    // form, then replay the four Lloyd chains over the rotated
    // corpus (prefix t) — q259's census shape exactly.
    "q265_rrpq_codebook" -> {
      val censusArms = (0 until PQ_M).map { sb =>
        s"""  SELECT CAST($sb AS BIGINT) AS sub, CAST(n.cell AS BIGINT) AS cell,
           |         CAST(coalesce(c.n, 0) AS BIGINT) AS n_vecs,
           |         round(n.cn, 4) AS cn4
           |  FROM (SELECT cell, sqrt(sum(cv*cv)) AS cn
           |        FROM t${sb}c$PQ_ITERS GROUP BY 1) n
           |  LEFT JOIN (SELECT cell, count(*) AS n
           |             FROM t${sb}gf GROUP BY 1) c ON n.cell = c.cell""".stripMargin
      }
      s"""WITH $eCteBody,
         |$rotCteBody,
         |$init16Cte,
         |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "er", "t")).mkString(",\n")},
         |census AS (
         |${censusArms.mkString("\n  UNION ALL\n")}
         |)
         |SELECT sub, cell, n_vecs, cn4 FROM census ORDER BY sub, cell""".stripMargin
    },

    // RR-PQ ADC recall: rotated-space codes + dq tables (the t-chains'
    // own dq CTE — queries rotate through the same closed form),
    // raw-space exact reference and re-rank (isometry: identical
    // ranks) through [[rotAdcTailSql]] over the t-prefixed chains.
    "q266_rrpq_adc_recall" ->
      s"""WITH $eCteBody,
         |$rotCteBody,
         |$init16Cte,
         |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "er", "t")).mkString(",\n")},
         |${rotAdcTailSql("t")}""".stripMargin,

    // OPQ-NP trained rotation: the whole chain replayed — H·D
    // rotation, the four t-chains, Ŷ reconstruction, M, the bin()
    // Frobenius normalization, the single floor quantization, and
    // all exact-BIGINT Newton–Schulz iterations (bit-exact by
    // construction after ns0 — see [[opqChainBody]]).
    "q287_opq_rotation" ->
      s"""WITH $eCteBody,
         |$opqChainBody
         |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |       CAST(q AS BIGINT) AS r_q
         |FROM ns$OPQ_NS_ITERS ORDER BY i, j""".stripMargin,

    // OPQ ADC recall: the q287 chain produces R1; er1 rotates the
    // corpus by R1's exact dyadic entries (q/2^20 — both engines
    // build IDENTICAL doubles, per-dim sums differ by the usual
    // O(ulp)); four fresh PQ chains over er1 (prefix o, same md5
    // seed order), then the shared rotated-ADC tail.
    "q288_opq_adc_recall" ->
      s"""WITH $eCteBody,
         |$opqChainBody,
         |er1 AS MATERIALIZED (
         |  SELECT e.vec_id, r.i, sum((CAST(r.q AS DOUBLE) / $PCA_SCALE.0) * e.v) AS v
         |  FROM ns$OPQ_NS_ITERS r JOIN e ON e.i = r.j
         |  GROUP BY 1, 2
         |),
         |${(0 until PQ_M).map(sb => pqChainSqlFrom(sb, "er1", "o")).mkString(",\n")},
         |${rotAdcTailSql("o")}""".stripMargin,

    // SemDeDup: the IVF chain replayed (g5 = the stored cell
    // assignment — q262's substrate-agreement invariant makes the
    // chain and the stored codes/ relation interchangeable here),
    // then within-cell pairs + the same cosine-threshold drop rule.
    // Cross-engine stability rests on the q64 precedent: pair dots
    // associate differently but every pair's cosine sits far from the
    // 0.35 gate and the round-4 boundary (VectorOpsSpec margin
    // audit).
    "q269_semdedup" ->
      s"""$ivfChainCteStored,
         |nn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
         |p AS (
         |  SELECT ga.vec_id AS id1, gb.vec_id AS id2, ga.cell,
         |         sum(a.v * b.v) AS dot
         |  FROM g5 ga JOIN g5 gb ON ga.cell = gb.cell AND ga.vec_id < gb.vec_id
         |       JOIN e a ON a.vec_id = ga.vec_id
         |       JOIN e b ON b.vec_id = gb.vec_id AND b.i = a.i
         |  GROUP BY 1, 2, 3
         |), c AS (
         |  SELECT id1, id2, cell, dot / (n1.nrm * n2.nrm) AS cos
         |  FROM p JOIN nn n1 ON p.id1 = n1.vec_id
         |         JOIN nn n2 ON p.id2 = n2.vec_id
         |  WHERE dot / (n1.nrm * n2.nrm) >= 0.35
         |)
         |SELECT id2 AS vec_id, CAST(cell AS BIGINT) AS cell,
         |       min(id1) AS witness_id, CAST(count(*) AS BIGINT) AS n_dups,
         |       round(max(cos), 4) AS max_cos4
         |FROM c GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,

    // k-center greedy: the 7 selection steps unrolled verbatim — the
    // per-(vector, center) distance is the ivfIterSql algebra
    // (Σv² − 2Σv·cv + Σcv²), the min over centers and the
    // (dmin DESC, vec_id) argmax mirror the Spark aggregates exactly.
    // sel CTEs are MATERIALIZED (multiply referenced — the CTE-
    // inlining discipline).
    "q271_kcenter_coreset" ->
      s"""WITH $eCteBody,
         |sel1 AS MATERIALIZED (
         |  SELECT 1 AS t, vec_id AS cid, CAST(NULL AS DOUBLE) AS dmin FROM (
         |    SELECT vec_id FROM embeddings
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)
         |),
         |${(2 to KC_K).map(kcenterIterSql).mkString(",\n")}
         |SELECT t, cid AS center_id, round(dmin, 4) AS far_d2_4
         |FROM sel$KC_K ORDER BY t""".stripMargin,

    // D4 prune: the chain (g5 cells + c4 centroids = the stored
    // index bits), q269's dropped set, then the centroid-distance
    // rank and the integer quarter cut replayed verbatim.
    "q272_d4_prune" ->
      s"""$ivfChainCteStored,
         |nn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
         |pp AS (
         |  SELECT ga.vec_id AS id1, gb.vec_id AS id2, sum(a.v * b.v) AS dot
         |  FROM g5 ga JOIN g5 gb ON ga.cell = gb.cell AND ga.vec_id < gb.vec_id
         |       JOIN e a ON a.vec_id = ga.vec_id
         |       JOIN e b ON b.vec_id = gb.vec_id AND b.i = a.i
         |  GROUP BY 1, 2
         |), dr AS (
         |  SELECT DISTINCT id2 AS vec_id
         |  FROM pp JOIN nn n1 ON pp.id1 = n1.vec_id
         |          JOIN nn n2 ON pp.id2 = n2.vec_id
         |  WHERE dot / (n1.nrm * n2.nrm) >= 0.35
         |), sd AS (
         |  SELECT g.vec_id, g.cell,
         |         sum(e.v * e.v) - 2 * sum(e.v * c.cv) + sum(c.cv * c.cv) AS d2
         |  FROM g5 g JOIN e ON e.vec_id = g.vec_id
         |       JOIN c4 c ON c.cell = g.cell AND c.i = e.i
         |  WHERE g.vec_id NOT IN (SELECT vec_id FROM dr)
         |  GROUP BY 1, 2
         |), rk AS (
         |  SELECT vec_id, cell, d2,
         |         row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rn,
         |         count(*) OVER (PARTITION BY cell) AS ntot
         |  FROM sd
         |)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
         |       CAST(rn AS BIGINT) AS proto_rank,
         |       CAST(ntot AS BIGINT) AS n_survivors,
         |       round(d2, 4) AS d2_4
         |FROM rk WHERE rn <= ntot // 4 ORDER BY vec_id""".stripMargin,

    // The exact fixed-point chain replayed in HUGEINT: same floor
    // quantization, same Gram matrix, same md5-coin v0, all
    // PCA_ITERS renormalized matvecs. Everything is exact integer
    // arithmetic — the hash must match bit-for-bit with no rounding
    // anywhere.
    "q276_pca_power" ->
      s"""WITH $pcaChainCte
         |SELECT CAST(i AS BIGINT) AS i, CAST(vq AS BIGINT) AS pc1_q,
         |       (CASE WHEN vq < 0 THEN -1 ELSE 1 END) *
         |         CAST((abs(vq) * 1000000) // $PCA_SCALE AS BIGINT) AS pc1_ppm
         |FROM pv$PCA_ITERS ORDER BY i""".stripMargin,

    // q276's chain + the exact projection join + the |proj| rank —
    // all integers, bit-exact.
    "q277_pca_outliers" ->
      s"""WITH $pcaChainCte,
         |prj AS (
         |  SELECT x.vec_id, sum(x.xq * v.vq) AS proj
         |  FROM xq x JOIN pv$PCA_ITERS v USING (i) GROUP BY 1
         |), rkd AS (
         |  SELECT vec_id, proj,
         |         row_number() OVER (ORDER BY abs(proj) DESC, vec_id) AS rk
         |  FROM prj
         |)
         |SELECT vec_id, rk, CAST(proj AS BIGINT) AS proj_q2
         |FROM rkd WHERE rk <= $PCA_TOPK ORDER BY rk""".stripMargin,

    // The same quantization, sign matrix, projection, pair sample and
    // integer ratio — all exact, hash must match bit-for-bit.
    "q280_jl_projection" ->
      s"""WITH $eCteBody,
         |xq AS MATERIALIZED (
         |  SELECT vec_id, i, CAST(floor(v * $PCA_SCALE.0) AS HUGEINT) AS xq FROM e
         |),
         |rm AS (
         |  SELECT k, i,
         |         CASE WHEN CAST(('0x' || substr(md5('jl:' || CAST(k AS VARCHAR) || ':'
         |                          || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
         |              THEN 1 ELSE -1 END AS r
         |  FROM (SELECT DISTINCT i FROM e)
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${JL_K - 1})) AS k)
         |),
         |z AS MATERIALIZED (
         |  SELECT x.vec_id, r.k, sum(r.r * x.xq) AS z
         |  FROM xq x JOIN rm r USING (i) GROUP BY 1, 2
         |),
         |hh AS (
         |  SELECT vec_id,
         |         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
         |  FROM embeddings
         |), rkb AS MATERIALIZED (
         |  SELECT vec_id, hv % $JL_BUCKETS AS bucket,
         |         row_number() OVER (PARTITION BY hv % $JL_BUCKETS
         |                            ORDER BY hv, vec_id) AS rn
         |  FROM hh
         |), pr AS MATERIALIZED (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM rkb a JOIN rkb b ON a.bucket = b.bucket AND b.rn = a.rn + 1
         |), do2 AS (
         |  SELECT p.id1, p.id2, sum((a.xq - b.xq) * (a.xq - b.xq)) AS d2o
         |  FROM pr p JOIN xq a ON a.vec_id = p.id1
         |            JOIN xq b ON b.vec_id = p.id2 AND b.i = a.i
         |  GROUP BY 1, 2
         |), dr2 AS (
         |  SELECT p.id1, p.id2, sum((a.z - b.z) * (a.z - b.z)) AS d2r
         |  FROM pr p JOIN z a ON a.vec_id = p.id1
         |            JOIN z b ON b.vec_id = p.id2 AND b.k = a.k
         |  GROUP BY 1, 2
         |)
         |SELECT id1, id2, CAST(d2o AS BIGINT) AS d2_orig_q2,
         |       CAST(d2r AS BIGINT) AS d2_red_q2,
         |       CAST((d2r * 1000000) // (d2o * $JL_K) AS BIGINT) AS ratio_ppm
         |FROM do2 JOIN dr2 USING (id1, id2)
         |WHERE d2o > 0 ORDER BY id1, id2""".stripMargin,

    // v₁'s chain + the quantized deflation + the second power loop
    // under the pca2 coin, replayed step for step.
    "q281_pca_deflation" ->
      s"""WITH $pcaChainCte,
         |$pcaSecondCte
         |SELECT CAST(i AS BIGINT) AS i, CAST(vq AS BIGINT) AS pc2_q,
         |       (CASE WHEN vq < 0 THEN -1 ELSE 1 END) *
         |         CAST((abs(vq) * 1000000) // $PCA_SCALE AS BIGINT) AS pc2_ppm
         |FROM qv$PCA_ITERS ORDER BY i""".stripMargin,

    // Both direction chains + the three exact energy aggregates.
    "q283_pca_variance" ->
      s"""WITH $pcaChainCte,
         |$pcaSecondCte,
         |etot AS MATERIALIZED (SELECT sum(xq * xq) AS e FROM xq),
         |e1 AS (
         |  SELECT sum(proj * proj) // (SELECT sum(vq * vq) FROM pv$PCA_ITERS) AS e
         |  FROM (SELECT x.vec_id, sum(x.xq * v.vq) AS proj
         |        FROM xq x JOIN pv$PCA_ITERS v USING (i) GROUP BY 1)
         |), e2 AS (
         |  SELECT sum(proj * proj) // (SELECT sum(vq * vq) FROM qv$PCA_ITERS) AS e
         |  FROM (SELECT x.vec_id, sum(x.xq * v.vq) AS proj
         |        FROM xq x JOIN qv$PCA_ITERS v USING (i) GROUP BY 1)
         |), un AS (
         |  SELECT 'total' AS component, e FROM etot
         |  UNION ALL SELECT 'pc1', e FROM e1
         |  UNION ALL SELECT 'pc2', e FROM e2
         |)
         |SELECT component, CAST(e AS BIGINT) AS energy_q2,
         |       CAST((e * 1000000) // (SELECT e FROM etot) AS BIGINT) AS share_ppm
         |FROM un ORDER BY component""".stripMargin
    // q255_compression_gate is the one remaining spec-only entry:
    // DEFLATE output length is genuinely not SQL-expressible.
  )

  /** The q276 power iterations unrolled (matvec → max-abs → integer
    * renorm), mirroring [[pcaPowerChain]] exactly. DuckDB's `//` on
    * the nonnegative |y|·S is the same floor-division the Spark
    * side's sign-split `div` computes.
    */
  private def pcaIterSqlFor(p: String, gram: String): String =
    (1 to PCA_ITERS).map { t =>
      val prev = s"${p}v${t - 1}"
      s"""${p}y$t AS MATERIALIZED (
         |  SELECT g.i, sum(g.g * v.vq) AS y FROM $gram g JOIN $prev v ON v.i = g.j GROUP BY 1
         |), ${p}m$t AS MATERIALIZED (SELECT max(abs(y)) AS m FROM ${p}y$t),
         |${p}v$t AS MATERIALIZED (
         |  SELECT i, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * ((abs(y) * $PCA_SCALE) // m) AS vq
         |  FROM ${p}y$t CROSS JOIN ${p}m$t
         |)""".stripMargin
    }.mkString(",\n")

  private lazy val pcaIterSql: String = pcaIterSqlFor("p", "gm")

  /** The re-orthogonalized loop (q281): matvec → subtract the v₁
    * component (sign-split integer div by the vvq scalar) → renorm.
    */
  private def pcaOrthoIterSql(p: String, gram: String, v1: String): String =
    (1 to PCA_ITERS).map { t =>
      val prev = s"${p}v${t - 1}"
      s"""${p}y$t AS MATERIALIZED (
         |  SELECT g.i, sum(g.g * v.vq) AS y FROM $gram g JOIN $prev v ON v.i = g.j GROUP BY 1
         |), ${p}r$t AS MATERIALIZED (
         |  SELECT (CASE WHEN rn < 0 THEN -1 ELSE 1 END) * (abs(rn) // vv) AS r
         |  FROM (SELECT sum(v.vq * y.y) AS rn FROM $v1 v JOIN ${p}y$t y USING (i))
         |  CROSS JOIN vvq
         |), ${p}z$t AS MATERIALIZED (
         |  SELECT y.i, y.y - v.vq * r.r AS y
         |  FROM ${p}y$t y JOIN $v1 v USING (i) CROSS JOIN ${p}r$t r
         |), ${p}m$t AS MATERIALIZED (SELECT max(abs(y)) AS m FROM ${p}z$t),
         |${p}v$t AS MATERIALIZED (
         |  SELECT i, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * ((abs(y) * $PCA_SCALE) // m) AS vq
         |  FROM ${p}z$t CROSS JOIN ${p}m$t
         |)""".stripMargin
    }.mkString(",\n")

  /** The shared q276/q277/q281 chain prefix: quantization, the
    * half+mirror Gram, the md5 init and all PCA_ITERS v₁ iterations.
    */
  private lazy val pcaChainCte: String =
    s"""$eCteBody,
       |xq AS MATERIALIZED (
       |  SELECT vec_id, i, CAST(floor(v * $PCA_SCALE.0) AS HUGEINT) AS xq FROM e
       |),
       |gmh AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, sum(a.xq * b.xq) AS g
       |  FROM xq a JOIN xq b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2
       |),
       |gm AS MATERIALIZED (
       |  SELECT i, j, g FROM gmh
       |  UNION ALL SELECT j AS i, i AS j, g FROM gmh WHERE i < j
       |),
       |pv0 AS MATERIALIZED (
       |  SELECT i, CAST(CASE WHEN CAST(('0x' || substr(md5('pca:' || CAST(i AS VARCHAR)), 1, 8))
       |                           AS BIGINT) % 2 = 0
       |                 THEN $PCA_SCALE ELSE -$PCA_SCALE END AS HUGEINT) AS vq
       |  FROM (SELECT DISTINCT i FROM e)
       |),
       |$pcaIterSql""".stripMargin

  /** The q281/q283 second-direction chain (deflation + vvq + the
    * re-orthogonalized loop), appended after [[pcaChainCte]].
    */
  private lazy val pcaSecondCte: String =
    s"""dy AS MATERIALIZED (
         |  SELECT g.i, sum(g.g * v.vq) AS y
         |  FROM gm g JOIN pv$PCA_ITERS v ON v.i = g.j GROUP BY 1
         |), dyp AS MATERIALIZED (
         |  SELECT i, (CASE WHEN y < 0 THEN -1 ELSE 1 END) *
         |            (abs(y) // $PCA_DEFL_SHIFT) AS yp
         |  FROM dy
         |), dden AS MATERIALIZED (
         |  SELECT sum(v.vq * p.yp) AS den
         |  FROM pv$PCA_ITERS v JOIN dyp p USING (i)
         |), g2 AS MATERIALIZED (
         |  SELECT g.i, g.j,
         |         g.g - (CASE WHEN a.yp * b.yp < 0 THEN -1 ELSE 1 END) *
         |               ((abs(a.yp * b.yp) * $PCA_SCALE) // d.den) AS g
         |  FROM gm g JOIN dyp a ON a.i = g.i JOIN dyp b ON b.i = g.j
         |       CROSS JOIN dden d
         |),
         |vvq AS MATERIALIZED (
         |  SELECT sum(vq * vq) AS vv FROM pv$PCA_ITERS
         |),
         |qv0 AS MATERIALIZED (
         |  SELECT i, CAST(CASE WHEN CAST(('0x' || substr(md5('pca2:' || CAST(i AS VARCHAR)), 1, 8))
         |                           AS BIGINT) % 2 = 0
         |                 THEN $PCA_SCALE ELSE -$PCA_SCALE END AS HUGEINT) AS vq
         |  FROM (SELECT DISTINCT i FROM e)
         |),
         |${pcaOrthoIterSql("q", "g2", s"pv$PCA_ITERS")}""".stripMargin


  /** One unrolled q271 selection step (t ≥ 2): distances of every
    * corpus vector to every selected center, min over centers, argmax
    * by (dmin DESC, vec_id), appended to the selection.
    */
  private def kcenterIterSql(t: Int): String = {
    val prev = s"sel${t - 1}"
    s"""d$t AS (
       |  SELECT a.vec_id, s.cid,
       |         sum(a.v * a.v) - 2 * sum(a.v * b.v) + sum(b.v * b.v) AS d2
       |  FROM $prev s JOIN e b ON b.vec_id = s.cid
       |       JOIN e a ON a.i = b.i
       |  GROUP BY 1, 2
       |), g$t AS (
       |  SELECT vec_id, min(d2) AS dmin FROM d$t GROUP BY 1
       |), n$t AS (
       |  SELECT vec_id, dmin FROM g$t ORDER BY dmin DESC, vec_id LIMIT 1
       |), sel$t AS MATERIALIZED (
       |  SELECT t, cid, dmin FROM $prev
       |  UNION ALL SELECT $t AS t, vec_id AS cid, dmin FROM n$t
       |)""".stripMargin
  }
}
