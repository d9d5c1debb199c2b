package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Machine-checked scale posture: the physical-plan properties DESIGN.md
  * claims, asserted so regressions surface as test failures instead of
  * silent plan drift. Plans are built (not executed) at sf0.001.
  *
  * Exchange-shape rules walk the typed SparkPlan tree (collect the
  * ShuffleExchangeExec nodes and inspect their ACTUAL child), not the
  * formatted plan text — a text scan can match a sibling subtree's
  * line in multi-child plans and silently audit the wrong node after a
  * Spark version reformats the output (round-5 advisor finding).
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  /** The typed physical tree, unwrapped from the AQE shell (plans are
    * never executed here, so this is the initial physical plan).
    */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }

  private def physical(q: String): SparkPlan =
    physical(SparkEntry.queries(q)(spark, sf001))

  /** Collect over an EXECUTED adaptive tree: materialized stages are
    * leaf QueryStageExec nodes to the plain collect, so pins that run
    * a query first must descend into each stage's plan explicitly.
    */
  private def deepCollect[T](p: SparkPlan)(
      pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val here = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec                                  => Seq(a.executedPlan)
      case o                                                         => o.children
    }
    here ++ kids.flatMap(deepCollect(_)(pf))
  }

  /** Attribute names an exchange hash-partitions on (Nil when the
    * exchange is not hash-partitioned or keys aren't plain columns).
    */
  private def hashKeys(e: ShuffleExchangeExec): Seq[String] =
    e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.map {
          case a: Attribute  => a.name
          case x: Expression => x.sql
        }
      case _ => Nil
    }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  /** Strips codegen wrappers so the node that actually FEEDS an
    * exchange is inspected, not its WholeStageCodegen shell.
    */
  @annotation.tailrec
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter          => unwrap(i.child)
    case other                    => other
  }

  /** True iff the exchange's own child is a map-side partial aggregate
    * — i.e. the shuffle moves P×|keys| partial rows, never raw rows.
    */
  private def partialAggFed(e: ShuffleExchangeExec): Boolean =
    unwrap(e.child) match {
      case a: BaseAggregateExec =>
        a.aggregateExpressions.forall(ae =>
          ae.mode == Partial || ae.mode == PartialMerge)
      case _ => false
    }

  /** Asserts every exchange hashed on `key` (any position) is fed by a
    * map-side partial aggregate, and that at least one such exchange
    * exists (the aggregation really does shuffle on that key).
    */
  private def assertKeyedExchangesPartialAggFed(q: String, key: String): Unit = {
    val ex = shuffles(physical(q)).filter(e => hashKeys(e).contains(key))
    assert(ex.nonEmpty, s"$q: expected at least one $key-keyed aggregation exchange")
    ex.foreach { e =>
      assert(partialAggFed(e),
        s"$q: $key-hashed exchange not fed by a partial aggregate; child is " +
          s"${unwrap(e.child).nodeName}\n$e")
    }
  }

  test("exact Jaccard routes through the prefix filter — no all-pairs gram self-join remains (q61)") {
    // The round-13 de-quadratic: q61 (and q67's pair feed — the same
    // jaccardPairsPrefix path; q67's own plan roots at the components
    // checkpoint so only q61 is inspectable end-to-end) must never
    // contain the Σ_g m_g² shape — a gram-keyed join of two PER-DOC
    // shingle relations with no prefix rank below it. The prefix
    // route's candidate join (keyed on the dictionary gid) has the
    // row_number window (rk <= L) on both sides; the gram-df and
    // dictionary joins (doc-free right sides) are exempt by the
    // both-sides-carry-doc-ids condition.
    val docish = Set("doc_id", "id_a", "id_b", "id1", "id2")
    val p = physical("q61_neardup_jaccard")
    val gJoins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.size == 1 &&
            j.leftKeys.forall {
              case a: Attribute => a.name == "g" || a.name == "gid"
              case _            => false
            } &&
            j.left.output.exists(a => docish(a.name)) &&
            j.right.output.exists(a => docish(a.name)) => j
    }
    assert(gJoins.nonEmpty, "q61: expected the gram-keyed candidate join")
    gJoins.foreach { j =>
      val windows = j.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec          => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      assert(windows.nonEmpty,
        s"q61: gram self-join with no prefix-rank window below it — " +
          s"the all-pairs Σ m_g² shape is back\n$j")
    }
  }

  test("filters reach the parquet scan and columns are pruned (q02)") {
    val p = plan("q02_filter_predicates")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(!p.contains("PushedFilters: []"), "filter pushdown list is empty")
  }

  test("ORDER BY + LIMIT plans as TakeOrderedAndProject, not a global sort (q40/q41)") {
    assert(plan("q40_order_limit").contains("TakeOrderedAndProject"))
    assert(plan("q41_offset").contains("TakeOrderedAndProject"))
  }

  test("keyset pagination pushes the cursor predicate into the scan AND plans top-k (q155)") {
    // The whole point vs OFFSET: the cursor is a scan-level range
    // filter (row groups before the cursor are skipped via min/max
    // stats) and the page fetch is a top-k, not a global sort.
    val p = plan("q155_keyset_page")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "cursor predicate must reach the parquet scan")
    assert(p.contains("Or("), "the composite keyset predicate (Or) must be pushed")
  }

  test("star join broadcasts every dimension (q18)") {
    val p = plan("q18_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "expected >= 3 broadcast dimension joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("as-of join is window-based — no join operator at all (q77)") {
    val p = plan("q77_asof_join")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "as-of must not plan a per-row probe join")
  }

  test("decontamination broadcasts the benchmark side (q87/q119)") {
    assert(plan("q87_decontaminate").contains("BroadcastHashJoin"))
    assert(plan("q119_eval_overlap_report").contains("BroadcastHashJoin"))
  }

  test("simhash candidate pairing hash-builds adaptively, never forced (q63)") {
    // The static shuffle_hash hint was removed: a FORCED per-partition
    // hash build OOM'd at 100× sf0.1 (DESIGN). The session's
    // maxShuffledHashJoinLocalMapThreshold re-takes the hash plan from
    // real map sizes, so after execution the band self-join must come
    // out sort-free (hash or broadcast build — both stream the bands
    // without the two big sorts the hint used to skip).
    val df = SparkEntry.queries("q63_neardup_simhash")(spark, sf001)
    df.collect()
    // physical() strips the AQE shell; after execution that is the
    // FINAL plan (the shell's toString would also dump the initial
    // plan, whose SortMergeJoin is exactly what AQE replaced)
    val fin = physical(df).toString
    assert(!fin.contains("SortMergeJoin"),
      "band self-join must convert to a hash build at a scale where it fits")
  }

  test("no static join-strategy hints anywhere in operator code (the q63 100× OOM class)") {
    // A forced hash build OOMs once its per-partition build side
    // outgrows executor memory; a forced merge/replicate hint freezes
    // a decision AQE makes better from real map stats. broadcast() of
    // bounded relations stays allowed (audited case by case) — the
    // shuffle-strategy hints are what this guard forbids, repo-wide.
    import scala.jdk.CollectionConverters._
    val banned = Seq("shuffle_hash", "merge", "shuffle_merge",
      "merge_join", "shuffle_replicate_nl").map(h => s"""hint("$h"""")
    val offenders = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala/graft"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(p))
        banned.filter(txt.contains).map(h => s"$p: $h")
      }.toList
    assert(offenders.isEmpty,
      s"static join-strategy hints found:\n${offenders.mkString("\n")}")
  }

  test("adaptive hash-build threshold converts SMJ→SHJ when partitions fit (posture mechanism)") {
    // Pins the mechanism the q63/q185/q193 joins now rely on: sides
    // too big to broadcast, per-partition build well under the 128m
    // threshold → AQE must land on ShuffledHashJoin, not keep the
    // initial SortMergeJoin. Sizing: ~48 MB raw of random digits per
    // side ≈ ~25-30 MB compressed — above the 10 MB adaptive broadcast
    // threshold, while each of the 4 map partitions stays well under
    // the 16m hash-build threshold.
    import org.apache.spark.sql.functions.{col, concat, lit, rand}
    val side = spark.range(800000L)
      .select(col("id").as("k"),
        concat(lit("p"), (rand(7) * 1e9).cast("long").cast("string"),
          lit("-"), (rand(11) * 1e9).cast("long").cast("string"),
          lit("-"), (rand(13) * 1e9).cast("long").cast("string")).as("pad"))
    val j = side.as("l").join(side.as("r"), "k")
      .select(col("k"), col("l.pad").as("p1"), col("r.pad").as("p2"))
    // execute THIS QueryExecution (a write would plan a separate one)
    // without collecting ~90 MB to the driver
    j.queryExecution.toRdd.foreach(_ => ())
    val fin = physical(j).toString
    assert(fin.contains("ShuffledHashJoin"),
      "AQE must convert the fits-in-memory SMJ to a shuffled hash join")
    assert(!fin.contains("SortMergeJoin"))
  }

  test("low-cardinality ranking range-partitions — never hashes on the 5-value key (q31/q35)") {
    // The scale contract of ScalableRank (round-3 verdict item 1): the
    // bulk data exchange must be rangepartitioning over (key, order),
    // and NO exchange may hash-partition on the low-cardinality key
    // alone (that is the n/5-rows-in-one-task shape). The local-rank
    // window hashes on (__pid, key) — P×|k| groups — which is the
    // allowed composite form. Note: ScalableRank's ranked relation sits
    // behind a localCheckpoint (see the determinism note there), so
    // part of its lineage is not visible to this string audit; the
    // range-partitioned decomposition itself is value-tested across
    // partition counts in ScalableRankSpec.
    for ((q, key) <- Seq("q31_ranking" -> "o_orderpriority",
                         "q35_distribution" -> "o_orderstatus",
                         "q33_frames" -> "o_orderpriority",
                         "q89_stratified_sample" -> "lang",
                         // constant key — the global-window extreme case
                         "q98_global_shuffle" -> "grp",
                         // 3-value split key of the capstone's packing stage
                         "q100_training_manifest" -> "split",
                         // constant key of the budget-selection cumsum
                         "q117_token_budget_select" -> "g",
                         // 20-value source key of the weighted reservoir
                         "q137_weighted_sample" -> "source",
                         // constant key of the DSIR global weight rank
                         "q270_dsir_weights" -> "g",
                         // 10-value stored-cell key of the D4 prototype rank
                         "q272_d4_prune" -> "label")) {
      val p = physical(q)
      assert(shuffles(p).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$q: expected a range-partitioned exchange")
      assert(!shuffles(p).exists(e => hashKeys(e).headOption.contains(key)),
        s"$q: an exchange hash-partitions on the low-cardinality key $key")
    }
  }

  test("domain mix joins rates by broadcast — the corpus never shuffles on source (q93)") {
    // The rate table is domain-cardinality rows; the corpus side must
    // stream through a broadcast hash join, not exchange on `source`
    // (20 values — the same low-cardinality trap as q31's keys).
    val p = plan("q93_domain_mix")
    assert(p.contains("BroadcastHashJoin"), "rate join must broadcast")
    // Exchanges keyed on `source` are allowed ONLY as aggregation
    // shuffles fed by a map-side partial aggregate (P x 20 partial
    // rows move, not the corpus). A source-hashed exchange fed by raw
    // rows would be the n/20-rows-per-task shape.
    assertKeyedExchangesPartialAggFed("q93_domain_mix", "source")
  }

  test("rag chunking is generate-only — its single exchange is the presentation sort (q95)") {
    val p = plan("q95_rag_chunking")
    assert(p.contains("Generate explode"), "chunk fan-out must be a Generate")
    assert("Exchange ".r.findAllIn(p).size == 1 && p.contains("rangepartitioning("),
      s"expected exactly one range exchange (the ORDER BY), got:\n$p")
  }

  test("vocab ranking never hash-partitions on the constant key (q108)") {
    // Same contract as q31/q35, minus the rangepartitioning-present
    // check: q108's presentation sort runs over ≤30 rows, so Spark may
    // legitimately plan it as a SinglePartition exchange instead of a
    // sampled range sort (the ranking exchange itself sits behind
    // ScalableRank's localCheckpoint, value-tested in ScalableRankSpec).
    val p = physical("q108_vocab_coverage")
    assert(!shuffles(p).exists(e => hashKeys(e).headOption.contains("g")),
      "q108: an exchange hash-partitions on the constant ranking key")
  }

  test("quantization stats join by broadcast — the corpus never shuffles on dim (q105)") {
    // The per-dim min/max relation is |dims| rows and must come back as
    // a broadcast. Exchanges keyed on `i` are allowed ONLY as the stats
    // aggregation's own shuffle fed by a map-side partial aggregate
    // (P × dims partial rows move, not the corpus) — q93's rule.
    val p = plan("q105_embedding_quantize")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast stats join")
    assertKeyedExchangesPartialAggFed("q105_embedding_quantize", "i")
  }

  test("funnel-style audits shuffle partial rows only — never raw docs on the group key (q111/q113/q114)") {
    // Same rule as q93/q105: source/lang/event_type are tens-of-values
    // keys, so any exchange hashed on them must be fed by a map-side
    // partial aggregate (P × |key| partial rows), never by raw rows.
    for ((q, key) <- Seq("q113_filter_funnel" -> "source",
                         "q114_tokenizer_fertility" -> "lang",
                         "q111_pii_scrub_audit" -> "event_type"))
      assertKeyedExchangesPartialAggFed(q, key)
  }

  test("boilerplate scrub never broadcast-nested-loops and prunes doc text from the anti-join side (q110)") {
    // The covered-position anti-join and the gram-df join are both
    // equi-joins on real keys; a BNL here would replicate the corpus.
    val p = plan("q110_boilerplate_scrub")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q110 must keep all joins keyed")
  }

  test("lsh ann probes broadcast — the corpus never shuffles on the signature (q118)") {
    // The |Q|·37 probe relation is the small side; the bucketed corpus
    // must stream through a broadcast hash join on sig equality.
    val p = plan("q118_ann_topk_lsh")
    assert(p.contains("BroadcastHashJoin"), "probe join must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucket probing must stay an equi-join")
  }

  test("source-similarity norms come back as broadcasts — pair cells never shuffle on source (q116)") {
    val p = plan("q116_source_similarity")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both norm joins must broadcast the |sources|-row side")
  }

  test("round-6 low-cardinality rollups shuffle partial rows only (q129/q131/q132)") {
    // The same partial-agg-fed rule as q111/q113/q114, applied to the
    // new source- and cohort-keyed rollups: an exchange hashed on a
    // tens-of-values key must carry map-side partials, never raw rows.
    for ((q, key) <- Seq("q129_source_kl" -> "source",
                         "q131_data_card" -> "source",
                         "q132_cohort_retention" -> "cohort_wk"))
      assertKeyedExchangesPartialAggFed(q, key)
  }

  test("classifier inference broadcasts the weight table — the corpus never shuffles on dim (q121)") {
    val p = physical("q121_quality_classifier")
    assert(p.toString.contains("BroadcastHashJoin"), "weights must broadcast")
    shuffles(p).foreach { e =>
      if (hashKeys(e).headOption.contains("dim"))
        fail(s"corpus shuffled on dim: $e")
    }
  }

  test("inverted index shuffles on (term, block) — never on the term alone (q122)") {
    // A groupBy(term) would put a head term's whole posting list in
    // one task; the segment key must carry the block.
    val p = physical("q122_inverted_index")
    shuffles(p).foreach { e =>
      val keys = hashKeys(e)
      if (keys.headOption.contains("w") && !keys.exists(_.contains("blk")))
        fail(s"exchange on term without block: $e")
    }
  }

  test("segment dedup keeps every join keyed on the segment hash (q123)") {
    val p = plan("q123_segment_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "q123 joins must stay equi-joins on sh/doc_id")
  }

  test("semantic affinity collapses to centroids before any join — partial aggs only on (label, i) (q124)") {
    // The (label, i) avg must partial-aggregate map-side so the
    // shuffle carries centroid partials, not exploded corpus rows.
    val p = plan("q124_semantic_source_affinity")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "size and norm joins must broadcast the |labels|-row sides")
  }

  test("dispersion scoring joins centroids back by broadcast — the corpus never shuffles on (label, i) twice (q126)") {
    val p = plan("q126_semantic_dispersion")
    assert(p.contains("BroadcastHashJoin"),
      "the |labels|*dim centroid relation must broadcast")
  }

  test("hard-negative mining broadcasts the bounded query set (q127)") {
    // Like q65: the corpus streams through one pass against a
    // broadcast query side; the label-inequality predicate rides the
    // broadcast nested loop, never a shuffle of the corpus.
    val p = plan("q127_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("ScalableRank offsets keep the partial aggregate ABOVE the data, BELOW the coalesce(1)") {
    // The offsets relation collapses to one partition (coalesce(1),
    // ScalableRank.scala) before its prefix-sum windows — sound only
    // because the (__pid, keys) aggregation happens FIRST, so the
    // single task receives ≤ P×|k| partial rows, never the data. That
    // ordering currently holds because Catalyst keeps the aggregation's
    // own exchange below the coalesce; if a future Spark folded the
    // coalesce under the partial aggregate, the offsets would become a
    // single-task aggregation over the full relation. Pin the shape:
    // under every single-partition CoalesceExec there must still be a
    // shuffle exchange fed by a map-side partial aggregate.
    import org.apache.spark.sql.functions.col
    val df = spark.range(2000).select((col("id") % 5).cast("string").as("k"),
      col("id").as("v"))
    for ((name, ranked) <- Seq(
        "withRanks" -> graft.functions.ScalableRank
          .withRanks(df, Seq("k"), Seq(col("v")), Seq(col("v")), 8),
        "withRunningSum" -> graft.functions.ScalableRank
          .withRunningSum(df, Seq("k"), Seq(col("v")), col("v"), 8))) {
      val coalesces = physical(ranked)
        .collect { case c: CoalesceExec if c.numPartitions == 1 => c }
      assert(coalesces.nonEmpty,
        s"$name: expected the offsets coalesce(1) in the physical plan")
      coalesces.foreach { c =>
        val fed = shuffles(c).filter(partialAggFed)
        assert(fed.nonEmpty,
          s"$name: no partial-aggregate-fed exchange below the " +
            s"single-partition coalesce — offsets would aggregate in one task:\n$c")
        assert(fed.exists(e => hashKeys(e).contains("__pid")),
          s"$name: the offsets aggregation exchange must be keyed on (__pid, keys)")
      }
    }
  }

  test("snapshot merge shuffles one candidate per pk per mapper — partial max_by below the exchange (q146)") {
    // CDC compaction must NOT shuffle the full base snapshot: the
    // pk-keyed exchange is fed by a map-side partial max_by, so each
    // mapper emits at most one candidate row per pk it saw. (The agg is
    // a SortAggregate — the struct payload buffer isn't UnsafeRow-
    // mutable — but the sort is partition-local; volume, not plan name,
    // is the 100 TB contract.) Also: no Window — merge-on-read as a
    // row_number window would shuffle every raw row.
    assertKeyedExchangesPartialAggFed("q146_snapshot_merge", "pk")
    assert(!plan("q146_snapshot_merge").contains("Window"),
      "snapshot merge must be an aggregate, not a window")
  }

  test("substring scrub shuffles partial rows on the window hash, never raw windows (q139)") {
    // The wh-keyed first-occurrence aggregation is the corpus-wide
    // stage; shuffling raw stride-1 windows would move ~token-count
    // rows. Map-side partial min/count collapses each task to its
    // distinct hashes first.
    assertKeyedExchangesPartialAggFed("q139_substring_scrub", "wh")
  }

  test("incremental containment applies the delta cut below the verify aggregation (q140)") {
    // The whole point of the delta tier: candidates are cut to
    // delta-touching pairs BEFORE the intersection count, so the
    // verify stage never sees old-old pairs. The cut comparison must
    // appear in a Filter strictly below the (id_a, id_b) aggregate.
    val p = physical("q140_incremental_containment")
    // target the VERIFY aggregate specifically (it emits "inter");
    // prefixCandidates' own (id_a, id_b) dedup agg legitimately sits
    // below the cut
    val aggs = p.collect {
      case a: BaseAggregateExec
          if a.groupingExpressions.map(_.name).toSet == Set("id_a", "id_b") &&
            a.resultExpressions.exists(_.name == "inter") => a
    }
    assert(aggs.nonEmpty, "expected the (id_a, id_b) intersection aggregate emitting inter")
    // Catalyst folds the crossJoin+filter into the broadcast
    // nested-loop join's condition — accept the cut comparison either
    // as a standalone Filter or as a join condition.
    def hasCutFilter(n: SparkPlan): Boolean = n.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.references.exists(_.name == "cut") => f
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.condition.exists(_.references.exists(_.name == "cut")) => j
    }.nonEmpty
    assert(aggs.forall(hasCutFilter),
      s"delta cut filter not found below the verify aggregate:\n$p")
  }

  test("heavy hitters: both sketch membership joins broadcast, the exact count shuffles partial-agg-fed, no sort-merge join (q141)") {
    val p = physical("q141_heavy_hitters")
    val semis = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size == 2,
      s"expected the two heavy-bucket membership joins as broadcast left-semi, got ${semis.size}")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "no join in the sketch path may shuffle both sides")
    // the one gram-keyed exchange (the exact count over survivors)
    // must move partial rows, not raw occurrences
    assertKeyedExchangesPartialAggFed("q141_heavy_hitters", "g")
  }

  test("bloom decontamination probes the filter BELOW the verify join — the corpus is pruned before any join sees it (q142)") {
    val p = physical("q142_decontaminate_bloom")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, "expected the exact-verify join")
    def hasBloomProbe(n: SparkPlan): Boolean = n.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
    }.nonEmpty
    // every join must have the bloom probe strictly inside one of its
    // subtrees (i.e. the prefilter runs before the join, not after)
    assert(joins.forall(j => j.children.exists(hasBloomProbe)),
      s"bloom probe not found below the verify join:\n$p")
  }

  test("fuzzy linkage joins only on equi keys — fan-out stays bounded (q159)") {
    // The whole point of deletion-neighborhood blocking is that the
    // fuzzy match becomes an EQUI join on the variant hash; a nested-
    // loop anywhere means the blocking degenerated to all-pairs.
    val p = plan("q159_fuzzy_linkage")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q159 must never plan a non-equi join:\n$p")
  }

  test("quantile normalization's rank lookup is an equi-join on the target rank (q165)") {
    // The target rank must be computed probe-side (total count arrives
    // as a broadcast scalar); if the rank map referenced both sides the
    // LOOKUP itself would fall back to a nested loop over N x N ranks.
    // Allowed: exactly one BroadcastNestedLoopJoin — the bounded 1-row
    // scalar attach. Required: an equi-join (hash or sort-merge) that
    // carries the rg lookup.
    val p = physical("q165_quantile_normalize")
    val bnl = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.size <= 1, s"q165: only the 1-row scalar attach may nested-loop:\n$p")
    val equi = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec     => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec  => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
    }
    assert(equi.exists(_.exists(_.references.exists(_.name == "rg"))),
      s"q165 rank lookup must be an equi-join on rg:\n$p")
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("market-basket dimension joins broadcast; the only big join is basket-keyed (q166)") {
    val p = physical("q166_market_basket")
    val bhj = p.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2,
      s"q166 item-count joins must broadcast (vocabulary ≪ facts); got ${bhj.size}")
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("Apriori prunes candidates with broadcast semi-joins before counting (q172)") {
    val p = physical("q172_frequent_triples")
    val semis = p.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if b.joinType.toString == "LeftSemi" => b
    }
    assert(semis.size >= 3,
      s"q172 must semi-prune against the frequent-pair set on all three pair slots; got ${semis.size}")
  }

  test("KMV sketch build prunes map-side via partial WindowGroupLimit (q186)") {
    // The scale claim of kmvSketch: the rank-limit window compiles to
    // WindowGroupLimit(Partial) BELOW the source-keyed exchange, so
    // each map task ships at most k rows per source — the two-phase
    // bottom-k merge. If a Spark upgrade stops planning the partial
    // prune, the sketch build silently degrades to shuffling the whole
    // distinct-hash relation; this assertion turns that into a failure.
    val p = physical("q186_kmv_distinct")
    val partials = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.mode.toString == "Partial" => w
    }
    assert(partials.nonEmpty, "no partial WindowGroupLimit in the sketch build")
    val prunedExchange = shuffles(p).exists(e => e.child.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.mode.toString == "Partial" => w
    }.nonEmpty)
    assert(prunedExchange,
      "the partial WindowGroupLimit must sit below an exchange (map-side prune)")
  }

  test("triangle closure probes by hash — the wedge side never sorts (q185/q185b)") {
    // The round-7 3× win: a sort-merge LEFT SEMI pays an O(W log W)
    // sort of the O(m^1.5) wedge relation; a hash build on the O(m)
    // edge side streams wedges through. Round 12 moved the build
    // decision from a static hint (OOMs when the edge side outgrows a
    // partition — the q63 100× failure) to the session's adaptive
    // threshold, so the pin now executes and asserts the FINAL plan's
    // semi join hash-builds (shuffled or broadcast) with no sort above
    // the wedge side.
    Seq("q185_triangles", "q185b_triangles_sampled").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf001)
      df.collect()
      val semis = deepCollect(physical(df)) {
        case j: org.apache.spark.sql.execution.joins.HashJoin
            if j.joinType.sql == "LEFT SEMI" => j
      }
      assert(semis.nonEmpty,
        s"$q: triangle closure is not a hash-built semi join")
      assert(deepCollect(physical(df)) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType.sql == "LEFT SEMI" => j
      }.isEmpty, s"$q: the wedge side is being sorted")
    }
  }

  test("dup-span coverage never shuffles per-position rows (q97)") {
    // Round-7 reshape: positions collapse to (doc_id, g) partial aggs
    // map-side; every exchange must be partial-agg-fed or the window/
    // sort machinery over already-collapsed rows — a raw Generate
    // feeding an exchange means the positional explode is back on the
    // wire (the 7→92 s spill regression this reshape eliminated).
    val p = physical("q97_dup_span_coverage")
    shuffles(p).foreach { e =>
      assert(!unwrap(e.child).isInstanceOf[org.apache.spark.sql.execution.GenerateExec],
        s"q97: an exchange is fed directly by the positional Generate\n$e")
    }
    assertKeyedExchangesPartialAggFed("q97_dup_span_coverage", "doc_id")
  }

  test("mix weights broadcast the totals — the source rollup is partial-agg-fed (q188)") {
    val p = physical("q188_mix_weights")
    assert(p.collectFirst {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "q188: totals row is not broadcast")
    assertKeyedExchangesPartialAggFed("q188_mix_weights", "source")
  }

  test("embedding dim stats shuffle partial cells only — never exploded rows (q196)") {
    // posexplode is a projection; the 64-key GROUP BY must collapse
    // map-side so the exchange carries P×64 partial cells, not the
    // dim-exploded corpus.
    assertKeyedExchangesPartialAggFed("q196_embedding_dim_stats", "dim")
  }

  test("link prediction's edge exclusion is a hashed anti join, never nested-loop (q193)") {
    // executed pin (round 12): the hash build comes from the adaptive
    // threshold, not a static hint, so only the final plan shows it
    val df = SparkEntry.queries("q193_link_prediction")(spark, sf001)
    df.collect()
    val antis = deepCollect(physical(df)) {
      case j: org.apache.spark.sql.execution.joins.HashJoin
          if j.joinType.sql == "LEFT ANTI" => j
    }
    assert(antis.nonEmpty, "q193: existing-edge exclusion is not a hashed LEFT ANTI join")
  }

  test("label propagation never hash-partitions on the label alone (q199)") {
    // per-round exchanges key on v or (v, lab) — hashing on lab alone
    // would funnel a converged community onto one task.
    val offenders = shuffles(physical("q199_label_propagation"))
      .filter(e => hashKeys(e) == Seq("lab"))
    assert(offenders.isEmpty,
      s"q199: exchange hash-partitioned on the label alone\n$offenders")
  }

  test("growth fits never hash-partition on the constant group key (q197/q202)") {
    // the q108/q31 constant-key discipline: ScalableRank range-
    // partitions; a hash exchange on g alone is the single-task sort.
    Seq("q197_zipf_fit", "q202_heaps_fit").foreach { q =>
      val offenders = shuffles(physical(q)).filter(e => hashKeys(e) == Seq("g"))
      assert(offenders.isEmpty, s"$q: exchange hashed on the constant key\n$offenders")
    }
  }

  test("rolling actives shuffle partial day cells after the coverage dedup (q194)") {
    assertKeyedExchangesPartialAggFed("q194_rolling_actives", "wend")
  }

  test("bootstrap CI emits all 32 replicates in one map-side pass — the exchange carries segment x replicate partials (q228)") {
    // The Poisson-bootstrap point: the explode is a projection and the
    // (seg, b) aggregation collapses map-side, so the shuffle moves
    // P x segments x 32 partial cells, never the 32x exploded orders.
    assertKeyedExchangesPartialAggFed("q228_bootstrap_ci", "seg")
  }

  test("PSI bins the full table through broadcasts — only cell/rank exchanges shuffle (q232)") {
    val p = physical("q232_psi_drift")
    val broadcasts = p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.size >= 2,
      "bin edges and totals must join as broadcasts — the events table " +
        "must never shuffle on event_type for the bin assignment")
    assertKeyedExchangesPartialAggFed("q232_psi_drift", "bin")
  }

  test("token-source MI: the grid joins broadcast; corpus shuffles are vocabulary-keyed partial aggs (q230)") {
    val p = physical("q230_token_mi")
    val broadcasts = p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.size >= 2, "top-20 tokens and N row must broadcast")
    // the presence dedup and the df/df_s counts all collapse map-side
    assertKeyedExchangesPartialAggFed("q230_token_mi", "w")
  }

  test("daily-series kit: the only corpus-scale exchange is the partial-agg-fed (type, day) count (q225/q226/q229)") {
    for (q <- Seq("q225_autocorrelation", "q226_theilsen", "q229_seasonal_decomp")) {
      val ex = shuffles(physical(q)).filter(e => hashKeys(e).contains("day"))
      assert(ex.nonEmpty, s"$q: expected the (type, day) aggregation exchange")
      ex.foreach(e => assert(partialAggFed(e),
        s"$q: the (type, day) count must collapse map-side; child is " +
          unwrap(e.child).nodeName))
    }
  }

  test("methodology batch: the only corpus-scale exchanges are keyed partial aggs (q241/q244/q246)") {
    // EMD cells and the capture rollup must collapse map-side before
    // their exchanges. (q235's one day-keyed exchange is the WINDOW
    // shuffle — lead() needs the raw per-event rows once, by design,
    // and the subsequent (user, day) agg reuses that partitioning.)
    assertKeyedExchangesPartialAggFed("q241_emd_drift", "cbin")
    assertKeyedExchangesPartialAggFed("q244_capture_recapture", "user_id")
    // q246's per-value cells agg is SUBSUMED by ScalableRank's range
    // partitioning (no separate hash exchange on cents — one exchange
    // fewer than the naive plan); the per-type rollup still shuffles
    // partial-agg-fed
    assertKeyedExchangesPartialAggFed("q246_mann_whitney", "event_type")
  }

  test("point-in-time join is a keyed equi join with the interval as a filter — never nested-loop (q249)") {
    // at test SF the history side broadcasts (BHJ); at scale the same
    // equi key plans SMJ/SHJ — the invariant is that the pk equality
    // drives the join and the validity interval rides as a filter
    val p = plan("q249_pit_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "the pk equality must drive a hash join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the validity interval must ride the equi join as a filter, not a BNL")
  }

  test("weighted percentile: the final pick is broadcast-joined and partial-agg-fed (q239)") {
    val p = physical("q239_weighted_percentile")
    assert(p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "per-flag totals must broadcast")
    assertKeyedExchangesPartialAggFed("q239_weighted_percentile", "rf")
  }

  test("feature-engineering batch: rollups collapse map-side before their exchanges (q251/q252/q254)") {
    // churn labels: both sides of the obs/outcome join are user-keyed
    // partial aggs (the join itself reuses their partitioning)
    assertKeyedExchangesPartialAggFed("q251_churn_labels", "user_id")
    // waterfall: the two period rollups (count-distinct's two-phase
    // plan included) collapse before any is_a exchange
    assertKeyedExchangesPartialAggFed("q252_metric_waterfall", "is_a")
    // standardization: cell counts and the broadcast mix weights both
    // shuffle partials only
    assertKeyedExchangesPartialAggFed("q254_standardized_rates", "nat")
    assertKeyedExchangesPartialAggFed("q254_standardized_rates", "seg")
  }

  test("lag features window the (user, day) ROLLUP, never raw events (q250)") {
    // the (user_id, day) agg is partial-agg-fed; the window's own
    // user-keyed exchange then carries the rolled-up daily relation —
    // its child is the FINAL aggregate, proof the raw event stream
    // never reaches the window operator
    val p = physical("q250_lag_features")
    val byUserDay = shuffles(p).filter(e =>
      hashKeys(e).contains("user_id") && hashKeys(e).contains("day"))
    assert(byUserDay.nonEmpty && byUserDay.forall(partialAggFed),
      "daily rollup must collapse map-side")
    val windowEx = shuffles(p).filter(e => hashKeys(e) == Seq("user_id"))
    assert(windowEx.nonEmpty, "expected the window's user-keyed exchange")
    windowEx.foreach(e => assert(unwrap(e.child).isInstanceOf[BaseAggregateExec],
      s"window exchange must carry the aggregated daily relation, got " +
        unwrap(e.child).nodeName))
  }

  test("snake sharding rolls shards up partial-agg-fed (q253)") {
    // the shard assignment is pure integer arithmetic on ScalableRank's
    // global rank (in the low-card rank audit); the per-shard rollup is
    // the only post-rank exchange and carries partials
    assertKeyedExchangesPartialAggFed("q253_snake_sharding", "shard")
  }

  test("compression gate is a pure map-side projection — no hash exchange at all (q255)") {
    val hashed = shuffles(physical("q255_compression_gate"))
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashed.isEmpty,
      s"q255 must not hash-shuffle; found ${hashed.map(hashKeys)}")
  }

  test("negative sampling draws through the banded equi join, filters through an equi anti join (q256)") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val joins = physical("q256_negative_sampling")
      .collect { case j: BaseJoinExec => j }
    assert(joins.exists(j => j.leftKeys.nonEmpty && j.output.nonEmpty &&
      j.leftKeys.exists { case a: Attribute => a.name == "b"; case _ => false }),
      "the CDF inversion must be an equi join on the band key b")
    val anti = joins.filter(_.joinType == LeftAnti)
    assert(anti.nonEmpty && anti.forall(_.leftKeys.size >= 2),
      "the false-negative filter must be a (cust, pk)-keyed equi anti join")
  }

  test("pq tiers: live chains collapse map-side, stored-serving tiers broadcast dq only (q259-q261)") {
    // q259 is the live substrate audit — every subspace's code
    // assignment is the q257 argmin shape
    assertKeyedExchangesPartialAggFed("q259_pq_codebook", "vec_id")
    // q260/q261 SERVE from the stored index since round 9 — their
    // plans must contain NO kmeans chain at all (no vec_id-keyed
    // aggregation exchange; the cell/code assignments come from the
    // stored files), and the ADC lookup tables and shortlist ride
    // broadcasts — the codes relation never shuffles on a code column
    Seq("q260_pq_adc_recall", "q261_ivfadc_recall").foreach { qn =>
      val p = physical(qn)
      val vecKeyed = shuffles(p).filter(e => hashKeys(e) == Seq("vec_id"))
      assert(vecKeyed.isEmpty,
        s"$qn must serve from the stored index — found a vec_id-keyed " +
          s"exchange, i.e. a live chain leaked back in")
      assert(p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.size >= 4, s"$qn: expected >= 4 broadcast dq/shortlist exchanges")
      (0 until 4).foreach { sb =>
        assert(shuffles(p).forall(e => !hashKeys(e).contains(s"c$sb")),
          s"$qn: codes must never hash-shuffle on c$sb")
      }
    }
  }

  test("rrpq tiers: fused chain shuffles vec_id-keyed partials, adc rides broadcasts (q265/q266)") {
    // q265's fused trainer must keep the q257 argmin shape: every
    // vec_id-carrying aggregation exchange collapses n·k candidate
    // rows map-side first (the rotation itself is a map-side kernel
    // call — it can add no exchange of its own)
    assertKeyedExchangesPartialAggFed("q265_rrpq_codebook", "vec_id")
    // q266/q288: the dq lookup tables and the shortlist ride
    // broadcasts; the codes relation never hash-shuffles on a code
    // column (q288 is the same tail under the trained rotation)
    Seq("q266_rrpq_adc_recall", "q288_opq_adc_recall").foreach { qn =>
      val p = physical(qn)
      assert(p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.size >= 4, s"$qn: expected >= 4 broadcast dq/shortlist exchanges")
      (0 until 4).foreach { sb =>
        assert(shuffles(p).forall(e => !hashKeys(e).contains(s"c$sb")),
          s"$qn: codes must never hash-shuffle on c$sb")
      }
    }
  }

  test("opq chain: cross-covariance collapses map-side, NS matmuls shuffle matrix-keyed partials (q287)") {
    // The one corpus pass (M = Ŷ·Xᵀ) must reach its (i, j) rollup as
    // map-side partials — 4096 products per vector combine BEFORE the
    // exchange, so the shuffle carries P×4096 partial rows however
    // large the corpus (the q276 Gram-pass claim, pinned on the
    // package-private relation because the full query hides it behind
    // the chain's checkpoints).
    val pm = physical(graft.ops.VectorOps.opqCrossCov(spark, sf001))
    val ijKeyed = pm.collect { case e: ShuffleExchangeExec => e }
      .filter(e => hashKeys(e) == Seq("i", "j"))
    assert(ijKeyed.nonEmpty && ijKeyed.forall(partialAggFed),
      "q287: the (i,j) cross-covariance exchange must carry map-side partials")
    // One NS step audited directly (the loop checkpoints each
    // iteration): both 64×64 matmul rollups are partial-agg-fed.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val x0 = (for (i <- 1 to 64; j <- 1 to 64) yield (i, j, ((i * 7 + j) % 13).toLong))
      .toDF("i", "j", "q")
    val pns = physical(graft.ops.VectorOps.nsStep(x0))
    val aggKeyed = pns.collect { case e: ShuffleExchangeExec => e }
      .filter(e => hashKeys(e) == Seq("bi", "bj") || hashKeys(e) == Seq("i", "cj"))
    assert(aggKeyed.nonEmpty && aggKeyed.forall(partialAggFed),
      "q287: NS matmul rollups must shuffle map-side partials")
  }

  test("bounded-sample training draws by map-side FILTER, never a corpus top-S (q289)") {
    // The 100 TB claim of the bounded trainer: the ≈cap·k sample is a
    // hash-threshold FILTER of the scan (one pass, fully parallel) —
    // drawing it must never funnel the corpus through a global sort.
    // The only top-S allowed anywhere in the plan is the k-row seed
    // init every Lloyd chain already had.
    // (the trainer's own subtree is eagerly checkpointed, so the pin
    // audits the sample RELATION the trainers consume, not the final
    // census plan — which by then sees only the centroid RDD)
    import org.apache.spark.sql.execution.{FilterExec, SortExec, TakeOrderedAndProjectExec}
    val e = T.embeddings(spark, sf001)
    val n = e.count()
    val k = graft.ops.VectorOps.ivfNlist(n)
    val p = physical(graft.ops.VectorOps.trainSample(e, n, k, cap = 4))
    val sampleFilters = deepCollect(p) {
      case f: FilterExec
        if f.condition.toString.toLowerCase.contains("md5") &&
           f.condition.toString.toLowerCase.contains("substring") => f
    }
    assert(sampleFilters.nonEmpty,
      "the training sample must be a map-side md5-prefix Filter")
    assert(deepCollect(p) { case s: ShuffleExchangeExec => s; case s: SortExec => s
                            case t: TakeOrderedAndProjectExec => t }.isEmpty,
      "drawing the sample must be one parallel scan — no exchange, sort, or top-S")
  }

  test("vector substrate audits shuffle partials only (q257/q258)") {
    // IVF census: the argmin assignment collapses n·k candidate rows to
    // n map-side before the vec_id exchange
    assertKeyedExchangesPartialAggFed("q257_ivf_cell_audit", "vec_id")
    // LSH histogram: the signature is a pure projection; the only hash
    // exchange is the sig-keyed partial-agg rollup
    val hashed = shuffles(physical("q258_lsh_bucket_audit"))
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashed.nonEmpty && hashed.forall(e =>
      hashKeys(e) == Seq("sig") && partialAggFed(e)),
      s"q258 must shuffle only sig-keyed partials; found ${hashed.map(hashKeys)}")
  }

  test("stored-serving tiers read only probed cell partitions, via dynamic pruning (q261/q263/q264)") {
    // The load-bearing 100 TB claim of the stored-index split: the
    // codes files are partitioned by cell and the probe join key IS
    // the partition column, so Spark inserts a dynamic-partition-
    // pruning filter on every codes scan — the query lists nprobe
    // cell directories, not the corpus. One cell-joined scan must
    // carry both the assignment and the codes (a second codes read
    // joined on vec_id would scan every partition).
    import org.apache.spark.sql.execution.FileSourceScanExec
    Seq("q261_ivfadc_recall", "q263_ivfadc_query", "q264_ivfadc_residual",
        "q286_ivfadc_external_query", "q294_opq_ivfadc_query",
        "q295_opq_residual_recall").foreach { qn =>
      val scans = physical(qn).collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivfadc")) &&
             f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
      }
      assert(scans.nonEmpty, s"$qn: expected scans of the stored codes files")
      scans.foreach(f => assert(
        f.partitionFilters.exists(_.toString.contains("dynamicpruning")),
        s"$qn: codes scan must carry a dynamic partition-pruning filter; got ${f.partitionFilters}"))
    }
  }

  test("canonical serve tier reads stored labels; its tail never re-scans the corpus (q299)") {
    // The production-shape claim of the stored-state split (round-15):
    // after the delta-sized sketch/verify subtree (checkpointed — its
    // corpus touches are the delta bands and the candidate-restricted
    // shingle semi-join), the contraction/components/fan-out tail must
    // consume ONLY the persisted state. In the plan: every file scan
    // below the checkpoint boundary points at graft_canon/labels —
    // labels feed ≥2 consumers (l1/l2/parts/withL0) as plain re-reads
    // (cheap file scans, deliberately NOT checkpointed), and no
    // documents.parquet scan survives in the tail.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val p = physical("q299_canonical_serve_stored")
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "q299: expected file scans in the serve tail")
    val labelScans = scans.filter(_.relation.location.rootPaths
      .exists(r => r.toString.contains("graft_canon") && r.toString.contains("labels")))
    assert(labelScans.size >= 2,
      s"q299: expected >=2 stored-label scans, got ${labelScans.size}")
    scans.foreach(f => assert(
      f.relation.location.rootPaths.forall(_.toString.contains("graft_canon")),
      s"q299: serve tail scans a non-state file: ${f.relation.location.rootPaths}"))
  }

  test("semdedup serves its cluster key from the stored index — no live chain, no dim explode (q269)") {
    // q269's 100 TB claim: the dedup path reads cell assignments from
    // the stored codes files and never recomputes kmeans. A leaked
    // chain would show up as exchanges carrying the exploded-dim
    // column `i` (the (cell, i) centroid-update shuffle / the
    // dim-keyed distance aggregations) — q269 itself never explodes
    // dims (cosine rides the codegen'd graft_dot kernel).
    // The full query's plan hides its input behind ScalableRank's
    // localCheckpoint (the chunked triangle's ranking), so the input
    // relation is audited directly — that is where a live chain would
    // live — and the post-checkpoint query plan is audited for the
    // dim-explode signature as well.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val in = physical(graft.ops.VectorOps.semdedupInput(spark, sf001))
    val codeScans = in.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivfadc")) &&
           f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(codeScans.nonEmpty, "q269: expected a scan of the stored codes files")
    (in.collect { case e: ShuffleExchangeExec => e } ++
      shuffles(physical("q269_semdedup"))).foreach { e =>
      assert(!hashKeys(e).contains("i"),
        "q269: found an exploded-dim exchange — a live kmeans chain leaked in")
    }
  }

  test("k-center step: broadcast centers, partial-agg min, 1-row partial-agg argmax (q271)") {
    // One selection step audited directly (the chain checkpoints each
    // step — the q269 note): the center set must broadcast, the
    // min-over-centers must shuffle vec_id-keyed partials only
    // (assignCells' shape), and the argmax must be an aggregate, not
    // a window.
    graft.functions.VectorKernels.ensureRegistered(spark)
    import org.apache.spark.sql.functions.{col, lit}
    val e = T.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding").as("v"))
    val sel = e.filter(col("vec_id") < 3)
      .select(lit(1).as("t"), col("vec_id").as("cid"), col("v").as("cv"))
    val p = physical(graft.ops.VectorOps.kcenterFarthest(e, sel))
    assert(p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "q271: centers must broadcast")
    val vecKeyed = p.collect { case x: ShuffleExchangeExec => x }
      .filter(x => hashKeys(x) == Seq("vec_id"))
    assert(vecKeyed.nonEmpty && vecKeyed.forall(partialAggFed),
      "q271: the min-over-centers exchange must carry vec_id-keyed partials")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "q271: the argmax must not plan a window")
  }

  test("dsir bucket tables come back broadcast — the corpus never shuffles on b (q270)") {
    // λ is a B=256-row relation; the per-doc weight join must be a
    // broadcast hash join. Exchanges keyed on `b` are allowed ONLY as
    // aggregation shuffles fed by map-side partials (P × B rows move,
    // not the corpus) — the q93/q105 rule. The pre-rank relation is
    // audited directly (the full query hides it behind ScalableRank's
    // localCheckpoint — the q269 note).
    val pw = physical(graft.ops.CorpusOps.dsirWeighted(spark, sf001))
    assert(pw.toString.contains("BroadcastHashJoin"), "q270: λ join must broadcast")
    val bKeyed = pw.collect { case e: ShuffleExchangeExec => e }
      .filter(e => hashKeys(e).contains("b"))
    assert(bKeyed.nonEmpty, "q270: expected b-keyed aggregation exchanges")
    bKeyed.foreach(e => assert(partialAggFed(e),
      s"q270: b-hashed exchange not fed by a partial aggregate: ${unwrap(e.child).nodeName}"))
  }

  test("quality-LR serving: weights broadcast, scoring shuffles doc-keyed partials only (q273)") {
    // The visible plan is the final scoring pass (training iterations
    // sit behind the feature checkpoint): the 257-row weight relation
    // must broadcast and the per-doc score aggregation must shuffle
    // partial rows. The gradient/bucket shape inside the loop is the
    // same aggregates over the same checkpointed relation.
    val p = physical("q273_quality_lr")
    assert(p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "q273: weights must broadcast")
    val hashed = shuffles(p).filter(e => hashKeys(e).nonEmpty)
    hashed.foreach { e =>
      assert(hashKeys(e).contains("doc_id") && partialAggFed(e),
        s"q273: unexpected non-doc-keyed or raw-row exchange ${hashKeys(e)}")
    }
  }

  test("adc shortlists plan a WindowGroupLimit prune, not a full sort-rank (q260/q261/q263/q264/q266)") {
    // The rn <= 50 / rn <= 5 shortlist filters must push into the
    // window as a group-limit (each task keeps a bounded heap per
    // query instead of rank-numbering every candidate) — the claim
    // the ADC entries' comments argue, pinned here.
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    Seq("q260_pq_adc_recall", "q261_ivfadc_recall", "q263_ivfadc_query",
        "q264_ivfadc_residual", "q266_rrpq_adc_recall",
        "q286_ivfadc_external_query", "q288_opq_adc_recall",
        "q294_opq_ivfadc_query", "q295_opq_residual_recall").foreach { qn =>
      val limits = physical(qn).collect { case w: WindowGroupLimitExec => w }
      assert(limits.nonEmpty, s"$qn: expected a WindowGroupLimit prune")
    }
  }

  test("ivfadc serving path plans no full-frame window — n_cand is a partial agg (q263/q286)") {
    // Round-12 (the round-11 verdict's scale finding): n_cand used to
    // be count(1) OVER (PARTITION BY q_id) with no ORDER BY — a
    // full-frame window that escapes the WindowGroupLimit prune by
    // construction and funnels each query's ENTIRE candidate set
    // through one task. It is now a partial-aggregable
    // groupBy(q_id).count joined back broadcast; pin that every
    // window left on the serving path is an ORDERED one (the
    // rank/shortlist windows, all group-limit prunable).
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q261_ivfadc_recall", "q263_ivfadc_query", "q264_ivfadc_residual",
        "q286_ivfadc_external_query", "q294_opq_ivfadc_query",
        "q295_opq_residual_recall").foreach { qn =>
      physical(qn).collect { case w: WindowExec => w }.foreach { w =>
        assert(w.orderSpec.nonEmpty,
          s"$qn: full-frame (unordered) window on the serving path: $w")
      }
    }
  }

  test("two-level assignment probes supers via a group-limit window, never a full frame (q290)") {
    // The corpus-sized window in the two-level assignment is the
    // top-2-supers probe, keyed by HIGH-card vec_id with an ORDER —
    // so the rn <= 2 filter plans as a WindowGroupLimit (bounded heap
    // per task) and no unordered full-frame window exists anywhere.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val p = physical("q290_ivf_two_level_assign")
    assert(p.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "q290: expected a WindowGroupLimit on the super-probe")
    p.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.orderSpec.nonEmpty, s"q290: full-frame (unordered) window: $w")
    }
  }

  test("bm25 scoring broadcasts the query relation — the corpus never shuffles on the bare term (q275)") {
    // The 6-row idf relation must reach the corpus-sized tf stream as
    // a broadcast; any exchange hash-keyed on the bare term would be
    // the corpus shuffling on a 31-value key (the q31/q93 trap).
    val p = physical(graft.ops.CorpusOps.bm25Scored(spark, sf001))
    assert(p.toString.contains("BroadcastHashJoin"),
      "the idf query relation must broadcast")
    // The only w-keyed exchange allowed is the df rollup — fed by a
    // partial aggregate of the already-collapsed tf relation (P×|vocab|
    // partial rows move). A raw-row w exchange would be the corpus.
    shuffles(p).filter(e => hashKeys(e) == Seq("w")).foreach { e =>
      assert(partialAggFed(e),
        "a w-keyed exchange must be the partial-agg-fed df rollup")
    }
  }

  test("pca gram shuffles the corpus once — the self-join's sides are the same exchange (q276)") {
    // The one-corpus-pass claim: the Gram self-join's two vec_id
    // exchanges must canonicalize identically (ReuseExchange/AQE
    // collapses them to a single physical shuffle), and the (i,j)
    // rollup exchange must be partial-agg-fed (4096 rows per map
    // partition move, never the joined pair stream).
    val p = physical(graft.ops.VectorOps.pcaGramHalf(spark, sf001))
    val vecSides = shuffles(p).filter(e => hashKeys(e) == Seq("vec_id"))
    if (vecSides.isEmpty)
      // below the broadcast threshold the self-join plans as a
      // broadcast hash join — zero corpus exchanges, trivially one pass
      assert(p.toString.contains("BroadcastHashJoin"),
        "no vec_id exchange and no broadcast join - unexpected shape")
    else {
      // above it, the two sides must canonicalize identically so
      // ReuseExchange/AQE collapses them to ONE physical shuffle
      assert(vecSides.size == 2, s"expected 2 self-join sides, got ${vecSides.size}")
      assert(vecSides(0).child.canonicalized == vecSides(1).child.canonicalized,
        "self-join sides differ - the corpus would shuffle twice")
    }
    shuffles(p).filter(e => hashKeys(e).contains("i")).foreach { e =>
      assert(partialAggFed(e), "the (i,j) rollup must be partial-agg-fed")
    }
    // Force the at-scale regime (broadcast off): the shuffled
    // self-join's two vec_id exchanges must canonicalize identically.
    val orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pb = physical(graft.ops.VectorOps.pcaGramHalf(spark, sf001))
      val sides = shuffles(pb).filter(e => hashKeys(e) == Seq("vec_id"))
      assert(sides.size == 2, s"expected 2 shuffled sides, got ${sides.size}")
      assert(sides(0).child.canonicalized == sides(1).child.canonicalized,
        "at-scale self-join sides differ - the corpus would shuffle twice")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
  }

  test("pca outlier projection joins the 64-row direction by broadcast (q277)") {
    val p = physical(graft.ops.VectorOps.pcaProjections(spark, sf001))
    assert(p.toString.contains("BroadcastHashJoin"),
      "the direction must broadcast")
    // the vec-keyed projection rollup is partial-agg-fed
    shuffles(p).filter(e => hashKeys(e) == Seq("vec_id")).foreach { e =>
      assert(partialAggFed(e), "projection rollup must be partial-agg-fed")
    }
  }

  test("bpe's one corpus pass is the partial-agg-fed word-count rollup (q274/q278)") {
    // Every exchange in the vocabulary relation must be fed by a
    // partial aggregate — the corpus collapses map-side; the merge
    // loop never sees raw rows.
    val p = physical(graft.ops.CorpusOps.bpeVocab(spark, sf001))
    val ex = shuffles(p)
    assert(ex.nonEmpty, "expected the word-count rollup exchange")
    ex.foreach { e =>
      assert(partialAggFed(e), s"raw-row exchange on ${hashKeys(e)}")
    }
  }

  test("unimax's corpus pass is the partial-agg-fed lang rollup; the rest is |langs|-sized (q282)") {
    val p = physical("q282_unimax_alloc")
    // lang is a 5-value key: its exchanges must carry partial rows
    shuffles(p).filter(e => hashKeys(e).contains("lang")).foreach { e =>
      assert(partialAggFed(e), "lang-keyed exchange must be partial-agg-fed")
    }
    // the waterfilling window runs single-task BY CONSTRUCTION: every
    // single-partition exchange must sit ABOVE an aggregation (the
    // |langs|-row rollup), never funnel pre-aggregation corpus rows
    val singles = shuffles(p).filter(_.outputPartitioning.numPartitions == 1)
    assert(singles.nonEmpty, "expected the |langs|-row single-task window exchange")
    singles.foreach { e =>
      assert(e.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"q282: single-partition exchange fed by pre-aggregation rows\n$e")
    }
  }

  test("fleiss kappa is one scan of partial-agg-fed keyed rollups — no window, no raw-doc exchange (q267/q267b)") {
    for (q <- Seq("q267_rater_agreement", "q267b_rater_agreement_wide")) {
      val p = physical(q)
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$q must plan no window at all")
      // the (doc, lang, cat) count and every rollup above it collapse
      // map-side — an exchange fed by raw union-all rows would triple
      // the corpus over the wire
      val ex = shuffles(p)
      assert(ex.exists(e => hashKeys(e).contains("doc_id")),
        s"$q: expected the (doc, lang, cat) aggregation exchange")
      ex.filter(e => hashKeys(e).contains("doc_id")).foreach { e =>
        assert(partialAggFed(e),
          s"$q: doc-keyed exchange not partial-agg-fed; child is ${unwrap(e.child).nodeName}")
      }
    }
  }

  test("bradley-terry MM step rides broadcasts only — strengths, wins and the renorm total never shuffle (q268)") {
    // The loop checkpoints each state, so the iteration joins are not
    // visible in q268's final plan — pin the step plan itself on the
    // live duel relations (btStep is the exact function the loop runs).
    val (nij, wi, p0) = graft.ops.PreferenceOps.btDuelRelations(spark, sf001)
    val p = physical(graft.ops.PreferenceOps.btStep(nij, wi, p0))
    val smj = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val shj = p.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(smj.isEmpty && shj.isEmpty,
      s"q268: an MM-step join shuffles (smj=${smj.size}, shj=${shj.size})")
    val bcast = p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bcast.size >= 4,
      s"q268: expected pi/pj/wins lookups + renorm total as broadcasts, got ${bcast.size}")
  }

  test("soft dedup adds ONE canonical-keyed size agg on the existing map — no nested-loop join (q284)") {
    val p = physical("q284_soft_dedup")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, "q284 must keep all joins keyed")
    // the cluster-size rollup collapses map-side; the join back is a
    // keyed equi-join (broadcast or shuffled — both acceptable: sz is
    // cluster-count-sized, full is corpus-sized)
    val agg = shuffles(p).filter(e =>
      hashKeys(e).contains("canonical_id") && partialAggFed(e))
    assert(agg.nonEmpty,
      "expected the partial-agg-fed canonical_id cluster-size exchange")
  }

  test("label propagation round: argmax is an aggregate (no window); the stationary edge relation never re-shuffles (q199/q248)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the round-16 LP shape: one round is the edge⋈labels join, the
    // (v, lab) count rollup, then the per-node argmax as a SECOND
    // AGGREGATE — a WindowExec would mean the row_number argmax (which
    // re-exchanged and sorted every (v, lab, cnt) row) crept back, and
    // the (v, lab) rollup exchange must be fed by a map-side partial
    // aggregate so the shuffle carries combined counts, not raw rows.
    // (An edge repartition-before-checkpoint was A/B-measured and
    // dropped — see labelPropagation — so the edge side streams into
    // the join or exchanges once, and the pin stays strategy-agnostic
    // there.)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    val lab = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    val p = physical(graft.ops.GraphOps.lpRound(und, lab))
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty,
      s"per-round argmax must be an aggregate, not a window:\n$p")
    val rollup = shuffles(p).filter(e =>
      hashKeys(e).contains("v") && hashKeys(e).contains("lab"))
    assert(rollup.nonEmpty && rollup.forall(partialAggFed),
      s"the (v, lab) count rollup must be partial-agg-fed:\n$p")
    val argmax = shuffles(p).filter(e => hashKeys(e) == Seq("v"))
    assert(argmax.nonEmpty && argmax.forall(partialAggFed),
      s"the per-node argmax must be a partial-agg-fed aggregate:\n$p")
  }

  test("kcore peel round: the edge relation streams through broadcast anti-joins (q192)") {
    import spark.implicits._
    // One peel round over a graph where the drop side is small but
    // NON-empty (a K4 core plus a pendant chain — at sf0.001 q192's
    // real graph drops nothing in round 1, and AQE then ELIMINATES
    // the anti-joins via empty-relation propagation, which is even
    // cheaper but leaves nothing to pin). EXECUTED so AQE picks the
    // join strategy from real map stats: the drop side is a small
    // fraction of nodes, so both endpoint filters must come out as
    // broadcast anti-joins — the old semi-against-survivors form
    // shuffled the edge relation by a and again by b every round.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (5L, 6L)).toDF("a", "b")
    val round = graft.ops.GraphOps.peelRound(e, 3)
    round.queryExecution.toRdd.foreach(_ => ())
    val fin = round.queryExecution.executedPlan
    val bAntis = deepCollect(fin) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType.toString == "LeftAnti" => j
    }
    assert(bAntis.size == 2,
      s"expected 2 broadcast anti-joins in the peel round, got ${bAntis.size}:\n$fin")
    val shuffledAntis = deepCollect(fin) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.toString == "LeftAnti" => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.toString == "LeftAnti" => j
    }
    assert(shuffledAntis.isEmpty,
      s"the peel filters must not shuffle the edge relation:\n$fin")
  }

  test("stored-prefix containment serve: no per-serve df recount over the stored gram index (q303)") {
    // r15 verdict item 1: the serve re-aggregated the ENTIRE gram
    // index every run (groupBy(g) over stored grams ∪ delta). The dfs
    // are state now (gdf/ in ensureCanonState): the only g-keyed
    // AGGREGATE in the serve is the delta-count rollup over the
    // checkpointed delta shingles, and the stored grams/ files reach
    // an exchange only as candidate-join inputs, never under a
    // g-keyed aggregate. (The candidate joins and the exact verify
    // legitimately shuffle the index — that volume is the intrinsic
    // asymmetric-containment term, shared with inline q140.)
    val p = physical("q303_incremental_containment_stored")
    val offending = shuffles(p).filter { e =>
      hashKeys(e) == Seq("g") && (unwrap(e.child) match {
        case agg: BaseAggregateExec =>
          agg.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(r =>
                r.toString.contains("graft_canon") &&
                  r.toString.contains("grams")) => f
          }.nonEmpty
        case _ => false
      })
    }
    assert(offending.isEmpty,
      s"q303 serve must not re-aggregate the stored gram index per run:\n$p")
    // Round-17 (guide §2.3 "narrower types"): the stored index is
    // dictionary-encoded — the serve reads (doc_id, gid int) files
    // (gramsid/gprefix) plus the vocab sidecar, NEVER the string
    // grams/ explode checkpoint, so every candidate/verify join
    // shuffles 4-byte gids instead of gram strings. Pin: no stored
    // string-gram scan reaches the serve plan at all.
    val stringGramScans = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(r =>
          r.toString.contains("graft_canon") &&
            r.toString.matches(".*?/grams$")) => f
    }
    assert(stringGramScans.isEmpty,
      s"q303 serve must read the dictionary-encoded index, not the " +
        s"string grams checkpoint:\n$p")
  }

  test("no query plans a CartesianProduct") {
    // Bounded cross joins (q16 5x5 dims, q66 queries x centroids) plan
    // as BroadcastNestedLoopJoin; an unbounded CartesianProduct would
    // mean both sides shuffle-materialize — never acceptable.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { q =>
      plan(q).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }
}
