package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Plan-shape guards for the 100 TB posture (SURVEY.md §4): filters reach
  * the parquet scan, dimension joins broadcast, no accidental cartesian
  * products, whole-stage codegen active. These assert on the optimized /
  * executed plan text, so a regression in partitioning or pushdown fails
  * CI rather than only showing up as a slow bench.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize the physical plan
    df.queryExecution.executedPlan.toString
  }

  /** Every plan node, including those hidden behind the four wrapper
    * kinds that plain TreeNode traversal stops at: AQE query-stage
    * leaves, the adaptive root, cached-relation build plans, and the
    * RDD-scan leaves of REGISTERED checkpoints (whose pre-truncation
    * source plans ScopedCache retains for exactly this audit — ADVICE
    * r17: a bare localCheckpoint would hide the checkpointed stages
    * from every structural assertion here). One shared walker so no
    * assertion silently sees only part of a plan. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val buf = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.execution.SparkPlan]
    def go(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
      buf += n
      n match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.executedPlan)
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          go(s.relation.cachedPlan)
        case r: org.apache.spark.sql.execution.RDDScanExec =>
          graft.functions.ScopedCache.checkpointSourceOf(r.rdd.id)
            .foreach(src => go(src.queryExecution.executedPlan))
        case _ =>
      }
      n.children.foreach(go)
    }
    go(p)
    buf.toSeq
  }

  /** Executed plan text INCLUDING the build plans of cached relations:
    * the dedup gates persist their gated tables via ScopedCache, so the
    * gate join lives inside an InMemoryRelation that plain plan text
    * hides behind an InMemoryTableScan (toString crosses AQE stage
    * boundaries already, but not cached-relation ones). */
  private def fullPlanText(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val top = df.queryExecution.executedPlan
    (top.toString +: allNodes(top).collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan.toString
      case r: org.apache.spark.sql.execution.RDDScanExec
          if graft.functions.ScopedCache.checkpointSourceOf(r.rdd.id).isDefined =>
        graft.functions.ScopedCache.checkpointSourceOf(r.rdd.id).get
          .queryExecution.executedPlan.toString
    }).mkString("\n")
  }

  test("filters are pushed into the parquet scan (q05)") {
    val plan = Relational.filterProject(spark, sf0001).queryExecution
      .executedPlan.toString
    // plan text truncates long filter lists; match a stable prefix
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_quan"), plan.take(2000))
  }

  test("column pruning: pricing summary reads only needed lineitem columns") {
    val plan = Relational.pricingSummary(spark, sf0001).queryExecution
      .executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("dimension joins broadcast in the flagship query (q02)") {
    val plan = executedPlan(Relational.revenueByNation(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("no cartesian product in bucketed ANN (q82 is an equi-join)") {
    val plan = executedPlan(Similarity.annSignBuckets(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("binned range join stays an equi-join (q52: no BNLJ/cartesian)") {
    // the ±24h theta predicate must ride the exploded day-bin equi-key; a
    // regression to BroadcastNestedLoopJoin or CartesianProduct would be
    // quadratic in input at 100 TB
    val plan = executedPlan(EventLog.rangeJoinNearbyOrders(spark, sf0001))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q27 KMV sketch: no Expand, no UDF, bounded sketch buffers through the exchanges") {
    val plan = executedPlan(operators.Analytics.approxDistinctParts(spark, sf001))
    // the countDistinct comparison column must plan the q26-style
    // two-level rewrite, never an Expand; the KMV hash must be plain
    // column arithmetic (codegen'd), never a UDF node
    assert(!plan.contains("Expand"), plan.take(3000))
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
    // graft_kmv plans as an ObjectHashAggregate with a partial (map-side)
    // mode, so every exchange carries sketch buffers, not raw values
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("partial_graft_kmv"), plan.take(3000))
  }

  test("q131 bloom prune filters the fact side BELOW the exact semi-join") {
    val plan = executedPlan(Relational.bloomJoinPrune(spark, sf0001))
    assert(plan.contains("might_contain"), plan.take(3000))
    assert(plan.contains("LeftSemi"), plan.take(3000))
    // tree text prints parents before children: the bloom filter must be
    // a descendant of the semi join (pre-join prune), not a post-join
    // residual filter
    assert(plan.indexOf("might_contain") > plan.indexOf("LeftSemi"),
      plan.take(3000))
  }

  test("q130 sketch algebra: map-side-combined sketches, corpus never self-joined") {
    val plan = executedPlan(operators.Profiling.vocabOverlapSketch(spark, sf0001))
    // the per-source sketch must partial-aggregate map-side so shuffles
    // carry k-long buffers, not raw token hashes
    assert(plan.contains("partial_graft_kmv_set"), plan.take(3000))
    // the only join is the #sources² sketch pairing, and it must ride a
    // broadcast of the aggregated (tiny) side — a SortMergeJoin here
    // would mean the pairing somehow reached corpus granularity
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q18 bucketed percentiles: model joins broadcast, windows stay partitioned") {
    val plan = executedPlan(operators.Analytics.bucketedQuantityPercentiles(spark, sf001))
    // no cartesian/BNLJ anywhere — every stats/targets/candidate join is
    // keyed, and the model-sized sides broadcast
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    // every window spec is partitioned (by group or (group, target)):
    // an empty windowspecdefinition would serialize the corpus through
    // one task, the exact failure mode the bucketing exists to avoid
    val winSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val partitioned = "windowspecdefinition\\((l_returnflag|g)".r.findAllIn(plan).size
    assert(winSpecs > 0 && winSpecs === partitioned,
      s"unpartitioned window spec present ($partitioned/$winSpecs):\n" + plan.take(4000))
  }

  test("q26 multi-distinct plans without Expand (two-level aggregate)") {
    // one Aggregate with >=2 distinct columns would plan an Expand that
    // multiplies every fact row through the shuffle
    val plan = executedPlan(Analytics.distinctPartsPerNation(spark, sf0001))
    assert(!plan.contains("Expand"), plan.take(3000))
  }

  test("whole-stage codegen is active in the aggregation path (q01)") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Partial}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.types.DecimalType
    val df = Relational.pricingSummary(spark, sf0001)
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    val partials = nodes.collect {
      case h: HashAggregateExec if h.aggregateExpressions.nonEmpty &&
          h.aggregateExpressions.forall(_.mode == Partial) => h
    }
    assert(partials.size === 1, nodes.mkString("\n"))
    val partial = partials.head
    // the partial aggregate is fused into a codegen stage (not merely a
    // neighbouring Filter): the stage's own nodes stop at InputAdapter
    def stageNodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil case _ => p.children.flatMap(stageNodes) })
    assert(nodes.exists {
      case w: WholeStageCodegenExec => stageNodes(w.child).exists(_ eq partial)
      case _ => false
    }, partial.toString)
    // the money sums run the exact kernel, not Spark's decimal path: no
    // per-row cast to decimal and no decimal-typed aggregation buffer
    val fns = partial.aggregateExpressions.map(_.aggregateFunction)
    // four distinct sums: the two averages reuse sum_qty's and sum_base_price's
    assert(fns.count(_.isInstanceOf[graft.functions.ExactSum]) === 4, fns)
    assert(fns.forall(f => f.isInstanceOf[graft.functions.ExactSum] || f.isInstanceOf[Count]), fns)
    assert(!partial.expressions.exists(_.exists {
      case c: Cast => c.dataType.isInstanceOf[DecimalType]
      case _ => false
    }), partial.toString)
    assert(!partial.toString.toLowerCase.contains("as decimal"), partial.toString)
    assert(!fns.flatMap(_.aggBufferAttributes).exists(_.dataType.isInstanceOf[DecimalType]), fns)
    assert(!partial.output.exists(_.dataType.isInstanceOf[DecimalType]), partial.output)
  }

  test("q72 DF gate is an anti-join and the shingle self-join stays equi") {
    // the hot-shingle gate must plan as an anti-join (AQE broadcasts it
    // when the hot list is small) and the candidate join must ride the
    // shingle equi-key — BNLJ/cartesian here is quadratic at 100 TB
    val plan = fullPlanText(Dedup.ngramJaccardPairs(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("the Jaccard pair core carries no forced broadcast hint") {
    // the per-doc size table is one row per gated doc — O(corpus) at
    // 100 TB, where a forced broadcast is a driver OOM. The size joins
    // must stay AQE-decided; this guards the hint out of the whole pair
    // subtree (q72 and, through jaccardPairsUnsorted, the q77/q78/q85/
    // q129 cluster family)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hints = Dedup.ngramJaccardPairs(spark, sf0001)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"forced hints in pair core: $hints")
  }

  test("q73 LSH bucket gate is an anti-join and candidate join stays equi") {
    val plan = fullPlanText(Dedup.minhashLshPairs(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q75 hot-bucket gate is an anti-join and pair join stays equi") {
    val plan = fullPlanText(Dedup.embeddingNearDupPairs(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q79 fixed-bench decontamination never shuffles the train side on the shingle key") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val df = Dedup.contaminationFixedBench(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the candidate join: INNER (the bench-side DF gate is also a BHJ on
    // sh, but LeftAnti — without the joinType filter a regressed train
    // join would let this pass vacuously), keyed on the shingle hash,
    // benchmark side broadcast; its STREAMED side is the raw train
    // pipeline (scan -> shingle explode) with no exchange of any kind
    val candidate = allNodes(plan).collect { case j: BroadcastHashJoinExec
      if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
         j.leftKeys.exists(_.references.exists(_.name == "sh")) => j }
    assert(candidate.nonEmpty, plan.toString.take(4000))
    candidate.foreach { j =>
      val streamed = if (j.buildSide == BuildRight) j.left else j.right
      val s = streamed.toString
      assert(!s.contains("Exchange") && !s.contains("ShuffleQueryStage"), s.take(3000))
      assert(s.contains("FileScan") || s.contains("Scan parquet"), s.take(3000))
    }
    val full = fullPlanText(Dedup.contaminationFixedBench(spark, sf0001))
    assert(!full.contains("BroadcastNestedLoopJoin"), full.take(4000))
    assert(!full.contains("CartesianProduct"), full.take(4000))
  }

  test("top-k uses TakeOrderedAndProject, not a global sort (q03)") {
    val plan = executedPlan(Relational.topOrders(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q87/q89 are narrow maps: no hash shuffle, join, or aggregate") {
    // sampling and redaction must stay embarrassingly parallel — the only
    // exchange allowed is the presentation sort's range partitioning; a
    // hash shuffle, join, or aggregate here would serialize a pure
    // per-row pipeline at 100 TB
    for (df <- Seq(TextOps.stratifiedSample(spark, sf0001),
                   TextOps.redactPii(spark, sf0001),
                   Similarity.quantizeInt8(spark, sf0001))) {
      val plan = executedPlan(df)
      assert(!plan.contains("hashpartitioning"), plan.take(3000))
      assert(!plan.contains("Join"), plan.take(3000))
      assert(!plan.contains("HashAggregate"), plan.take(3000))
    }
  }

  test("q86 plans without Expand and q88's stop gate is an anti-join") {
    // q86's three signal families aggregate as separate single-distinct
    // branches — an Expand would multiply every (doc, token) row through
    // the shuffle. q88's boilerplate filter must ride a left-anti join
    // (AQE broadcasts the stop list when it is small); CartesianProduct
    // anywhere is quadratic. The 1-row n_docs scalar rides the standard
    // broadcast-nested-loop idiom, which is why BNLJ is not banned here.
    val rep = executedPlan(TextOps.repetitionSignals(spark, sf0001))
    assert(!rep.contains("Expand"), rep.take(4000))
    val strip = executedPlan(TextOps.stripBoilerplate(spark, sf0001))
    assert(strip.contains("LeftAnti"), strip.take(4000))
    assert(!strip.contains("CartesianProduct"), strip.take(4000))
  }

  test("q97 chunking is a narrow map + explode: no join or aggregate") {
    // sliding-window chunking must stay scan-bound: the only exchange
    // allowed is the presentation sort's range partitioning
    val plan = executedPlan(TextOps.chunkDocuments(spark, sf0001))
    assert(!plan.contains("hashpartitioning"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q98/q104 keep-filter joins broadcast; the corpus is never shuffle-joined") {
    // the per-lang threshold table is #languages rows — the corpus pass
    // must ride a BroadcastHashJoin; a sort-merge join here would shuffle
    // the full corpus on lang (a handful of giant skewed partitions)
    for (df <- Seq(TextOps.mixToUniform(spark, sf0001),
                   TextOps.mixTemperature(spark, sf0001))) {
      val plan = executedPlan(df)
      assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
      assert(!plan.contains("SortMergeJoin"), plan.take(4000))
      assert(!plan.contains("CartesianProduct"), plan.take(4000))
    }
  }

  test("q100 assignment is broadcast + min_by aggregate, never a shuffle join") {
    // each Lloyd step must broadcast the k-row model over the corpus (the
    // BroadcastNestedLoopJoin here IS the broadcast scalar/model idiom)
    // and pick the argmin with a map-side-partial min_by (struct buffers
    // plan as SortAggregate — the partial_min_by below is what proves the
    // collapse happens BEFORE the exchange); a sort-merge join or a
    // vec_id window would shuffle n×k candidate rows per iteration
    val plan = executedPlan(Similarity.kmeansTrain(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("Window"), plan.take(4000))
    assert(plan.contains("partial_min_by"), plan.take(4000))
  }

  test("q101 PQ assignment joins the broadcast model on block id, no window") {
    // the per-block model join has an equi key (block), so it must plan
    // as a BroadcastHashJoin; argmin stays a min_by aggregate as in q100
    val plan = executedPlan(Similarity.pqTrain(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("Window"), plan.take(4000))
  }

  test("q182 SemDeDup pair comparison is cluster-blocked, never all-pairs") {
    val plan = executedPlan(Similarity.semdedupPrune(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    // the kmeans model broadcasts print as BNLJ *Cross* (the broadcast
    // scalar/model idiom); an *Inner* BNLJ would mean the cluster
    // equi-key fell out of the pair join and the dominance inequality
    // is being evaluated against every pair in the corpus
    assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
      !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner"), plan.take(4000))
    // assignment stays q100's broadcast + map-side-partial min_by
    assert(plan.contains("partial_min_by"), plan.take(4000))
  }

  test("q183 BM25 joins broadcast the term/corpus stats; top-k never sorts globally") {
    val plan = executedPlan(TextOps.bm25Rank(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q185 compaction fold: artifact scans + delta-bounded equi-joins, no cartesian") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val baseArt = Dedup.ensureNeardupAppendBase(spark, sf0001)
    val delta = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(Dedup.NeardupDeltaMod)) === 0)
    val (_, _, _, pairs) = Dedup.compactedParts(
      spark.read.parquet(s"$baseArt/bsv"), spark.read.parquet(s"$baseArt/hot"),
      spark.read.parquet(s"$baseArt/bsh"), spark.read.parquet(s"$baseArt/bpairs"),
      delta)
    val plan = executedPlan(pairs)
    // every join in the fold is equi/semi/anti on content keys, shingles,
    // or doc ids — a cartesian or nested loop would mean the delta bound
    // fell out of a join
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("q186 indexed BM25: term filter pushed to the posting scan, stats broadcast") {
    val plan = executedPlan(TextOps.bm25IndexedRank(spark, sf0001))
    // the IN (terms) predicate must reach the parquet reader — a posting
    // scan that reads every term defeats the artifact's purpose
    assert(plan.contains("PushedFilters: [In(tok"), plan.take(4000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q190 appended BM25: base stays a term-pushed scan, delta batch-bounded") {
    val plan = executedPlan(TextOps.bm25AppendedRank(spark, sf0001))
    // the base posting scan keeps q186's pushed predicate; the delta
    // side pays only its own tokenize; stats/df merge broadcast-sized
    assert(plan.contains("PushedFilters: [In(tok"), plan.take(4000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q184 hybrid RRF keeps both sides' gated shapes; fusion is list-bounded") {
    val plan = executedPlan(Similarity.hybridRrf(spark, sf0001))
    // dense side: q109's broadcast-gated ADC scan survives the fusion
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    // sparse side: q183's top-20 stays TakeOrdered, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q187 weighted fusion keeps q184's shapes; min-max windows are list-bounded") {
    val plan = executedPlan(Similarity.hybridWeighted(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q188 mixture sample: rate table broadcasts, draw is codegen'd map work") {
    val plan = executedPlan(Curation.mixtureSample(spark, sf0001))
    // the per-source rates join the corpus as a broadcast; the Bernoulli
    // draw is per-row integer arithmetic — no shuffle join, no window
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("Window"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q189 shard packing: corpus windows partition by source, offsets broadcast") {
    val df = Curation.shardPack(spark, sf0001)
    val plan = executedPlan(df)
    // the corpus-side running sum must be keyed by source — a global
    // (empty-partition) window over the doc table is the 100 TB killer.
    // Any window WITHOUT a partition key must sit above an aggregate
    // (the |sources|-row offset table), never directly over the corpus.
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty, plan.take(4000))
    val keyed = wins.filter(_.partitionSpec.nonEmpty)
    assert(keyed.nonEmpty &&
      keyed.forall(_.partitionSpec.exists(_.references.exists(_.name == "source"))),
      plan.take(4000))
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(allNodes(w.child).exists(_.nodeName.contains("HashAggregate")),
        w.toString.take(3000))
    }
    // the per-source offset table joins back as a broadcast
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q191 shard manifest: two-level source-distinct, no Expand") {
    val plan = executedPlan(Curation.shardManifest(spark, sf0001))
    // the source-distinct count must be the two-level groupBy roll-up —
    // a COUNT(DISTINCT) beside the sums would plan an Expand that
    // doubles the corpus-sized input before the shuffle
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
  }

  test("q102 top-k pairs use TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(TextOps.bpeMergeCandidates(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("q106/q107 ADC search: broadcast LUT/cell gates, corpus never shuffle-joined") {
    // q106: every join carries an explicit broadcast() hint, so the
    // FULL plan string (initial plan included) must be shuffle-join-free
    // — a dropped hint would otherwise hide behind AQE's fixture-size
    // conversion and only degrade at production scale
    val q106 = executedPlan(Similarity.pqSearch(spark, sf0001))
    assert(q106.contains("BroadcastHashJoin"), q106.take(4000))
    assert(!q106.contains("SortMergeJoin"), q106.take(4000))
    assert(!q106.contains("CartesianProduct"), q106.take(4000))
    // q107's cand⋈codes is an unhinted primary-key join (the index-build
    // join between the cell table and the codes table) — AQE decides it
    // at runtime, so assert the EXECUTED section only: the initial plan
    // legitimately shows the sort-merge fallback it would degrade to
    // when both index sides are genuinely huge
    val q107 = executedPlan(Similarity.ivfPqSearch(spark, sf0001))
      .split("== Initial Plan ==")(0)
    assert(q107.contains("BroadcastHashJoin"), q107.take(4000))
    assert(!q107.contains("SortMergeJoin"), q107.take(4000))
    assert(!q107.contains("CartesianProduct"), q107.take(4000))
  }

  test("q179 estimate audit: LSH anti-join gate holds, exact side stays equi-joined") {
    val plan = fullPlanText(Dedup.minhashEstimateError(spark, sf0001))
    // the hot-bucket gate (q73's) must survive the composition, and the
    // candidate-bounded exact side must never degrade to a nested loop
    // or a corpus-level cartesian
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q178 soft weights: narrow artifact joins, no text column, no window") {
    val plan = fullPlanText(Dedup.softDedupWeights(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    // the steady body is joins + one group-count aggregate: no window
    // function, and the document body never enters the plan (the scan
    // prunes to doc_id/source; weights need only longs)
    assert(!plan.contains("Window"), plan.take(4000))
    assert(!plan.contains("text#"), plan.take(4000))
  }

  test("q180 compacted search keeps q107's production shape (executed section)") {
    val q180 = executedPlan(Similarity.ivfPqSearchCompacted(spark, sf0001))
      .split("== Initial Plan ==")(0)
    assert(q180.contains("BroadcastHashJoin"), q180.take(4000))
    assert(!q180.contains("SortMergeJoin"), q180.take(4000))
    assert(!q180.contains("CartesianProduct"), q180.take(4000))
  }

  test("q172 rerank: exact kernel only behind the candidate gate, corpus never fully exact-scored") {
    val df = Similarity.ivfPqRerank(spark, sf0001)
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    // gate proof by executed metrics: the row count actually fed into the
    // exact-kernel projection is bounded by probes × m × blocks (candidate
    // set), never corpus × probes × blocks (q171's full-audit shape) —
    // structural key-matching can't separate the legitimate block-keyed
    // probe/model LUT joins from a full scan, but the row bound can
    def unwrap(n: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = n match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrap(q.plan)
      case other => other
    }
    val kernelFeeds = nodes.collect {
      case p: org.apache.spark.sql.execution.ProjectExec
          if p.projectList.exists(_.toString.contains("zip_with")) => unwrap(p.child)
    }
    assert(kernelFeeds.nonEmpty, df.queryExecution.executedPlan.toString.take(4000))
    val bound = Similarity.PqSearchProbes * Similarity.RerankM * Similarity.PqBlocks
    kernelFeeds.foreach { feed =>
      val n = feed.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      assert(n >= 0 && n <= bound,
        s"exact kernel fed $n rows by ${feed.nodeName} (gated bound $bound)")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("zip_with"), plan.take(4000)) // the exact kernel IS present
    // same join contract as the q107 test: the only nested-loop is the
    // intentional model-sized broadcast cross in the cell-probe stage
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q99 gates: exact is a semi-join, DF gate anti, no cartesian") {
    val plan = executedPlan(Dedup.incrementalDedup(spark, sf0001))
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("q114/q115 scorers are scan-bound: no join, no shuffle beyond the contract") {
    // the hashed classifier is explode + ONE map-side-collapsed aggregate
    // — a lookup join or window here would serialize the hot path
    val clf = executedPlan(Curation.qualityClassifier(spark, sf0001))
    assert(!clf.contains("Join"), clf.take(3000))
    assert(!clf.contains("Window"), clf.take(3000))
    assert(!clf.contains("Expand"), clf.take(3000))
    // random projection is a pure narrow map: the only exchange allowed
    // is the presentation sort's range partitioning
    val rp = executedPlan(Curation.randomProjection(spark, sf0001))
    assert(!rp.contains("hashpartitioning"), rp.take(3000))
    assert(!rp.contains("Join"), rp.take(3000))
    assert(!rp.contains("HashAggregate"), rp.take(3000))
  }

  test("q113/q116 windows stay partitioned; no cartesian or global-sort window") {
    // both operators must partition every window by doc_id/lang — an
    // unpartitioned window moves the corpus to ONE task at 100 TB.
    // (q117's head window IS unpartitioned by design: it runs on the
    // top-1000 rows after a TakeOrderedAndProject, not on the corpus.)
    for (df <- Seq(Curation.collapseRepeats(spark, sf0001),
                   Curation.qualityFilterPerLang(spark, sf0001))) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), plan.take(4000))
      val winSpecs = "Window \\[".r.findAllIn(plan).size
      val partitioned = "windowspecdefinition\\((doc_id|lang)".r.findAllIn(plan).size
      assert(winSpecs === 0 || partitioned > 0,
        "window without doc/lang partitioning:\n" + plan.take(4000))
    }
  }

  test("q117/q118 head work is top-k + broadcast, the vocabulary is never re-shuffled") {
    // Zipf's only global structure must be the top-1000 TakeOrdered, not
    // a full vocabulary sort exchange
    val zipf = executedPlan(Curation.zipfStats(spark, sf0001))
    assert(zipf.contains("TakeOrderedAndProject"), zipf.take(4000))
    // heavy hitters: the candidate recount joins ≤200 broadcast rows —
    // a sort-merge join would shuffle the full token stream by token
    val hh = executedPlan(Curation.heavyHitters(spark, sf0001))
    assert(hh.contains("BroadcastHashJoin"), hh.take(4000))
    assert(!hh.contains("SortMergeJoin"), hh.take(4000))
    assert(!hh.contains("CartesianProduct"), hh.take(4000))
  }

  test("q119 global rank windows by range-partition id, never the whole corpus") {
    // the corpus-sized window must partition by pid (each partition = one
    // range-shuffle partition); the only unpartitioned window allowed is
    // the offsets prefix-sum over #partitions rows. Offsets and n ride
    // broadcasts.
    val plan = executedPlan(Curation.curriculumOrder(spark, sf0001))
    assert(plan.contains("windowspecdefinition(pid"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q120/q121 plan with broadcast scalars and no corpus-sized shuffle joins") {
    val ep = executedPlan(Curation.epochPlan(spark, sf0001))
    assert(!ep.contains("SortMergeJoin"), ep.take(4000))
    assert(!ep.contains("CartesianProduct"), ep.take(4000))
    assert(!ep.contains("Window"), ep.take(4000)) // pure agg + scalar broadcast
    val kl = executedPlan(Curation.sourceDriftKl(spark, sf0001))
    assert(kl.contains("BroadcastHashJoin"), kl.take(4000))
    assert(!kl.contains("CartesianProduct"), kl.take(4000))
    assert(!kl.contains("Window"), kl.take(4000))
  }

  test("q122 normalization is a narrow map: no shuffle, join, or aggregate") {
    // the NFC+lower+collapse pass must stay embarrassingly parallel — the
    // only exchange allowed is the presentation sort's range partitioning
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val plan = executedPlan(Profiling.normalizeText(spark, sf0001))
    assert(!plan.contains("hashpartitioning"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    // and the kernel rides whole-stage codegen (the `*(stageId)` marker
    // on the projection), not a UDF fallback
    assert(plan.contains("*(1) Project"), plan.take(3000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
  }

  test("q123/q125 audits: one corpus pass, post-aggregate joins broadcast") {
    // the data card's top-lang and corpus-total joins run on #sources-row
    // aggregates — a SortMergeJoin would mean a corpus-sized side slipped
    // into a post-aggregate join
    val card = executedPlan(Profiling.sourceDatacard(spark, sf0001))
    assert(card.contains("BroadcastHashJoin"), card.take(4000))
    assert(!card.contains("SortMergeJoin"), card.take(4000))
    assert(!card.contains("CartesianProduct"), card.take(4000))
    // the leakage audit is aggregate-only: any Join here is a regression
    val leak = executedPlan(Profiling.splitLeakage(spark, sf0001))
    assert(!leak.contains("Join"), leak.take(4000))
    assert(!leak.contains("Window"), leak.take(4000))
  }

  test("q127/q128 ride the packer's shapes / a pure narrow map") {
    // the efficiency report re-aggregates q68's chunk table: its only
    // windows are the packer's source-partitioned running sums
    val pe = executedPlan(Profiling.packEfficiency(spark, sf0001))
    assert(!pe.contains("CartesianProduct") && !pe.contains("Join"), pe.take(4000))
    val winSpecs = "windowspecdefinition\\(".r.findAllIn(pe).size
    val bySource = "windowspecdefinition\\(source".r.findAllIn(pe).size
    assert(winSpecs === bySource, pe.take(4000))
    // the compression signal is scan-bound codegen'd arithmetic
    val cs = executedPlan(Profiling.compressionSignal(spark, sf0001))
    assert(!cs.contains("hashpartitioning"), cs.take(3000))
    assert(!cs.contains("Join"), cs.take(3000))
    assert(!cs.contains("HashAggregate"), cs.take(3000))
    assert(cs.contains("*(1) Project"), cs.take(3000))
  }

  test("q124/q126 windows are bounded: bucket-row frame or source-partitioned") {
    // q124's cumulative windows run over <= GrowthBuckets aggregated rows
    // (q117's head-window class — fine); its corpus passes must collapse
    // map-side into HashAggregates with no sort-merge or cartesian join
    val vg = executedPlan(Profiling.vocabGrowth(spark, sf0001))
    assert(!vg.contains("SortMergeJoin"), vg.take(4000))
    assert(!vg.contains("CartesianProduct"), vg.take(4000))
    assert(vg.contains("HashAggregate"), vg.take(4000))
    // q126's rank window must partition by source — unpartitioned would
    // move the corpus to ONE task at 100 TB
    val fs = executedPlan(Profiling.fixedSample(spark, sf0001))
    val winSpecs = "windowspecdefinition\\(".r.findAllIn(fs).size
    val bySource = "windowspecdefinition\\(source".r.findAllIn(fs).size
    assert(winSpecs > 0 && winSpecs === bySource, fs.take(4000))
    assert(!fs.contains("CartesianProduct"), fs.take(4000))
  }

  test("q132 span dedup: no Expand, semi-join flag, doc-partitioned bounded window") {
    val plan = executedPlan(SpanDedup.dupSpanStats(spark, sf0001))
    // the duplicated-span gate is ONE single-distinct aggregate — a
    // multi-distinct Expand here would multiply every span row through
    // the shuffle
    assert(!plan.contains("Expand"), plan.take(4000))
    // duplicated-start flagging is an equi semi-join on the 8-byte hash
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    // coverage windows partition by doc_id with a BOUNDED row frame
    // (-4, currentrow) — an unbounded or unpartitioned frame would pull
    // whole-corpus state through one task at 100 TB
    val winSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val byDoc = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(winSpecs > 0 && winSpecs === byDoc, plan.take(4000))
    assert(plan.contains("specifiedwindowframe(RowFrame, -4, currentrow"),
      plan.take(4000))
  }

  test("q136 merged search keeps q109's shape: broadcast gates, no BNLJ/cartesian") {
    // same contract as q107/q109: the only unhinted join is the
    // index-build cand⋈codes primary-key join (AQE-decided), so the
    // EXECUTED section must show broadcasts and no nested-loop fallback
    val plan = executedPlan(Similarity.ivfPqSearchMerged(spark, sf0001))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    // the only nested-loop is the HINTED probe×model broadcast cross join
    // (model-sized build side, q107's own shape) — never an unhinted one
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoop"), plan.take(4000))
  }

  test("q137 sample is one scan + one cell-partitioned window: no join, no Expand") {
    val plan = executedPlan(Similarity.cellDiverseSample(spark, sf0001))
    assert(!plan.contains("Join"), plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    // both window functions (count + row_number) partition by cell —
    // never an unpartitioned whole-corpus window
    val winSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val byCell = "windowspecdefinition\\(cell".r.findAllIn(plan).size
    assert(winSpecs > 0 && winSpecs === byCell, plan.take(4000))
  }

  test("q141 provenance: DF gate is a semi-join, pair join equi, argmax no window") {
    val plan = fullPlanText(SpanDedup.contaminationProvenance(spark, sf0001))
    // the boilerplate cap is a LeftSemi against the <=cap span set; the
    // eval x train pair join is a plain equi-join; the per-doc argmax is
    // a min_by AGGREGATE (map-side collapsible), never a window over the
    // pair table
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
  }

  test("q142 funnel: per-stage aggregates + equi transitions, no window/self-join") {
    val plan = executedPlan(EventLog.funnelConversion(spark, sf0001))
    // each transition joins the event slice to a PER-USER aggregate on
    // user_id — never a per-user window over the whole log, never an
    // event x event self-join, nothing nested-loops
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q138 decontamination: span containment is an equi-join, no Expand/cartesian") {
    val plan = executedPlan(SpanDedup.decontaminate(spark, sf0001))
    // the train-span set is ONE distinct aggregate (no multi-distinct
    // Expand), the containment test an equi join on the 8-byte hash, the
    // doc roll-up left outer — and nothing nested-loops
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(plan.contains("LeftOuter"), plan.take(4000))
  }

  test("q147 SQL window top-k is rewritten to the custom GroupTopK operator") {
    val plan = executedPlan(Analytics.groupTopkSql(spark, sf0001))
    assert(plan.contains("GroupTopKFinal"), plan.take(4000))
    assert(!plan.contains("Window"), plan.take(4000))
  }

  test("q144 SCD2: versioned dim broadcasts with the validity range inside the join") {
    val plan = executedPlan(Relational.scd2Enrich(spark, sf0001))
    // the 50-row dim must arrive by broadcast (the fact side is never
    // shuffled for it) and the validity window must ride the join, not a
    // post-join filter over a wider product
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q145 MAD anomaly: stats joins broadcast, only the first pass sees raw events") {
    val df = EventLog.volumeAnomaly(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the median/MAD tables are types-sized → broadcast; the raw log is
    // aggregated exactly once INSIDE the cached counts relation — every
    // downstream reference must hit the cache, so no file scan may
    // appear outside an InMemoryRelation's build plan
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(plan.contains("InMemoryTableScan"), plan.take(4000))
    // top-level walk (crosses AQE stages, NOT cached-relation builds):
    // zero raw scans outside the cache
    val topScans = allNodes(df.queryExecution.executedPlan).count {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    } - cachedBuildScans(df)
    assert(topScans == 0, s"raw scans outside the counts cache: $topScans\n" + plan.take(4000))
  }

  /** File scans inside cached-relation build plans (allNodes descends
    * into them; subtract to count only top-level scans). */
  private def cachedBuildScans(df: org.apache.spark.sql.DataFrame): Int =
    allNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.flatMap(s => allNodes(s.relation.cachedPlan)).count {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }

  test("q146 cohort retention: equi-join on user_id, no Expand, no whole-log window") {
    val plan = executedPlan(EventLog.cohortRetention(spark, sf0001))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q155 canonical selection: the rank-1 argmax plans as GroupTopK, no nested loop") {
    val plan = executedPlan(Dedup.canonicalPerCluster(spark, sf0001))
    // RewriteWindowTopK must upgrade the row_number<=1-then-drop window
    // to the bounded-heap operator (the cluster_size count-window from
    // q77's table legitimately remains)
    assert(plan.contains("GroupTopKFinal"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q159 canonical corpus: artifact scans + GroupTopK argmax, no nested loop") {
    val plan = executedPlan(Dedup.canonicalDedupCorpus(spark, sf0001))
    assert(plan.contains("GroupTopKFinal"), plan.take(4000))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q192 split assignment: no corpus window, label join is equi, no nested loop") {
    val plan = executedPlan(Dedup.clusterSplitAssign(spark, sf0001))
    // the draw is per-row codegen arithmetic; the ONLY corpus-sized op
    // allowed is the doc_id equi-join against the label table
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q193 SQ8 search: scalar LUT broadcasts, no cartesian; probe window only") {
    val plan = executedPlan(Similarity.sq8Search(spark, sf0001))
    // the (dim, code) LUT join against the corpus codes must broadcast
    // (the corpus never shuffles for the scan); the one window is the
    // per-probe rank over ≤corpus rows per probe — q106's shape
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q194 artifact TF-IDF: GroupTopK prunes before the exchange; posting scan feeds it") {
    val plan = executedPlan(TextOps.tfidfFromArtifact(spark, sf0001))
    assert(plan.contains("GroupTopKFinal"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q195 PMI: pair generation is codegen'd map work — no window, no cartesian") {
    val plan = executedPlan(TextOps.pmiCollocations(spark, sf0001))
    // slice/zip_with pair explode feeds a partial agg: a lead(k)
    // formulation would show a per-doc windowspecdefinition here
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q197 training export: semi-join funnel, source-keyed pack windows, no cartesian") {
    val plan = executedPlan(Curation.trainingExport(spark, sf0001))
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q158 winnowed pairs: fp equi-join with the anti-join gate, no nested loop") {
    val plan = executedPlan(SpanDedup.winnowedOverlapPairs(spark, sf0001))
    // pair generation must be an equi-join on the 8-byte fingerprint,
    // DF-gated by a LeftAnti against the hot set — never a cross product
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("q161 DSIR weights: broadcast bucket-weight join, no window, no cartesian") {
    val plan = fullPlanText(Curation.dsirLogWeights(spark, sf0001))
    // the B-row weight table must ride a broadcast back onto the counts
    // (B is a design constant — the join must never shuffle the corpus
    // side on the bucket key), and the whole pipeline is aggregates +
    // equi-joins: no window, no true cartesian (the only nested-loop
    // joins are the 1-row scalar-total broadcasts, the q93 idiom)
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q162 DSIR selection: global top-k is TakeOrdered, never a full sort") {
    val df = Curation.dsirSelect(spark, sf0001)
    val plan = executedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q164 payload near-dup: DF-gated band join, equi-joins only, no cartesian") {
    val plan = executedPlan(Multimodal.payloadBlockNeardup(spark, sf0001))
    // the hot-band anti-join gate must be in the plan (boilerplate
    // buckets never reach the pair join), and every join is an equi-join
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
  }

  test("q165 CDC chunk dedup: narrow chunker pass + keyed aggregates, no corpus join") {
    val plan = executedPlan(Dedup.cdcChunkDedup(spark, sf0001))
    // the chunker runs inside the scan projection (native expression, no
    // codegen fallback marker), chunks roll up via partial aggregates,
    // and the only join is the #sources-row totals x uniques merge
    assert(plan.contains("graft_cdc_cuts"), plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(4000))
  }

  test("q166 snapshot delta: sha anti-join against the store, no cartesian") {
    val plan = executedPlan(Dedup.snapshotDeltaBytes(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(plan.contains("graft_cdc_cuts"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
  }

  test("q163 rejection audit: equi-joins only, no window, no nested loop") {
    val plan = executedPlan(Curation.rejectionAudit(spark, sf0001))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
  }

  test("no join or exchange anywhere in the funnel/audit is keyed by raw text") {
    // the r10 verdict's perf-weak item: a text-keyed keeper join pushes
    // corpus-sized bytes through the exchange as comparator input. Every
    // content-identity key must be the 32-byte sha2 key instead — assert
    // structurally over EVERY join's key expressions and every hash
    // partitioning, including plans inside cached relations.
    val df = Curation.rejectionAudit(spark, sf0001)
    df.collect()
    def textKeyed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      keys.exists(k =>
        k.dataType == org.apache.spark.sql.types.StringType &&
          k.references.exists(_.name == "text"))
    val offenders = allNodes(df.queryExecution.executedPlan).flatMap {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if textKeyed(j.leftKeys) || textKeyed(j.rightKeys) => Seq(j.nodeName)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
              if textKeyed(h.expressions) => Seq("ShuffleExchange(text)")
          case _ => Nil
        }
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if textKeyed(a.groupingExpressions) => Seq(s"${a.nodeName}(groupBy text)")
      case _ => Nil
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("q173/q174 steady-state funnel: no shingling, no pair pipeline — artifact admission only") {
    // the whole point of the steady-state forms: the near-dup front half
    // lives in the q129 artifact, so these plans must contain NO shingle
    // explode and no window — including inside cached relations
    graft.operators.Dedup.ensureNeardupArtifact(spark, sf0001)
    val p173 = fullPlanText(Curation.funnelFromArtifact(spark, sf0001))
    val p174 = fullPlanText(Curation.rejectionAuditFromArtifact(spark, sf0001))
    Seq("q173" -> p173, "q174" -> p174).foreach { case (n, p) =>
      assert(!p.contains("graft_shingles"), s"$n shingles: ${p.take(3000)}")
      assert(!p.contains("windowspecdefinition"), s"$n window: ${p.take(3000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$n: ${p.take(3000)}")
    }
  }

  test("q176 append: equi-joins + anti-join gates only, no cartesian/nested loop") {
    val plan = executedPlan(Dedup.neardupArtifactAppend(spark, sf0001))
    // the admission gates (delta-vs-base exact, hot-shingle, attached-vs-
    // remaining) are anti/semi joins; nothing may plan as a nested loop
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
  }

  test("q157 winnowing: one keyed aggregation, no window function, no self-join") {
    val plan = executedPlan(SpanDedup.winnowedFingerprints(spark, sf0001))
    // selection is min(struct) with map-side partial aggregation — never
    // a window over sorted spans, never a join of the corpus to itself
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(plan.contains("partial_min") || plan.contains("partial_finalmerge")
      || plan.contains("HashAggregate"), plan.take(4000))
  }

  test("q198 hashed vectors: keyed aggregates only — no window, no cartesian") {
    val plan = executedPlan(TextOps.hashedDocVectors(spark, sf0001))
    // the featurizer is explode → keyed aggregates → equi-joins; the only
    // nested-loop join allowed is the 1-row n_docs scalar broadcast (the
    // q93 idiom), and nothing may introduce a window or true cartesian
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
  }

  test("q199 source similarity: dim-keyed self-join over the model-sized centroid table") {
    val plan = executedPlan(TextOps.sourceSimilarity(spark, sf0001))
    // the source×source matrix must come from an EQUI-join on dim over
    // the #sources×D centroid table — never a cartesian over sources
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
  }

  test("q200 normalized dedup: sha-keyed aggregates, no window, no Expand, no raw-text key") {
    val df = Profiling.normalizedDedup(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    // the scaladoc's no-COUNT(DISTINCT) claim: no Expand node
    assert(!plan.contains("Expand"), plan.take(4000))
    // every exchange partitions on the 32-byte sha2 key or the source
    // roll-up key — never on the raw normalized text itself
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    exchanges.foreach(p => assert(!p.contains("norm_text") && !p.contains("text#"),
      s"raw-text-keyed exchange: $p"))
  }

  test("q214 paragraph dedup: sha-keyed exchanges, no window, no Expand, no raw-paragraph key") {
    val df = Profiling.paragraphDedup(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    // keeper is a groupBy-min, not a COUNT(DISTINCT): no Expand node
    assert(!plan.contains("Expand"), plan.take(4000))
    // every exchange keys on the 32-byte sha2(canonical) or doc_id —
    // never the paragraph/doc text itself (the q163/q200 convention)
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    exchanges.foreach(p => assert(
      !p.contains("para#") && !p.contains("np#") && !p.contains("text#"),
      s"raw-text-keyed exchange: $p"))
  }

  test("q217 geometry card: bucketed bandings with hot gates, candidate-bounded exact joins") {
    val df = Dedup.lshGeometryCard(spark, sf0001)
    val plan = executedPlan(df)
    // three bucket-joins (one per geometry), each behind its LeftAnti
    // hot gate — never an ungated all-pairs join; no window, no
    // cartesian; the exact-jaccard side joins only through the candidate
    // sets (equi-joins all the way down)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    // the card collapses map-side: partial aggregates exist and the
    // result is 3 rows
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      plan.take(4000))
  }

  test("q220 per-source profile: q214's sha-keyed chain plus one doc_id join and a source rollup") {
    val df = Profiling.paragraphDedupBySource(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition") && !plan.contains("Expand"),
      plan.take(4000))
    // exchanges key on the 32-byte hash, doc_id, or the source rollup —
    // never raw text
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    exchanges.foreach(p => assert(
      !p.contains("para#") && !p.contains("np#") && !p.contains("text#"),
      s"raw-text-keyed exchange: $p"))
  }

  test("q221 CCNet emitter: sha2/doc_id-keyed exchanges, only the bounded grid window, no cartesian") {
    val df = Profiling.ccnetCorpus(spark, sf0001)
    val plan = executedPlan(df)
    // BNLJ appears only as q211's broadcast-one-row cut scalars (the
    // broadcast-literal idiom); a true cartesian is still forbidden
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    // the only windows are q211's grid cumulative (bounded by the
    // milli-nat design constant) — the corpus itself is never windowed
    val windowNodes = allNodes(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    windowNodes.foreach(w => assert(allNodes(w).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      w.toString.take(2000)))
    // exchanges key on sha2(canonical), doc_id, or the grid — never the
    // raw paragraph/doc text (q214's convention carried through)
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    exchanges.foreach(p => assert(
      !p.contains("para#") && !p.contains("np#") && !p.contains("text#") &&
        !p.contains("clean_text#"),
      s"raw-text-keyed exchange: $p"))
  }

  test("q225 CCNet funnel: the stage chain plus one source rollup — same exchange discipline") {
    val df = Profiling.ccnetFunnel(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    exchanges.foreach(p => assert(
      !p.contains("para#") && !p.contains("np#") && !p.contains("text#") &&
        !p.contains("clean_text#"),
      s"raw-text-keyed exchange: $p"))
  }

  test("q201 method card: three one-row aggregates, artifact label scan, no window") {
    val df = Profiling.dedupMethodCard(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    // the near tier reads the persisted label table, never re-derives
    // the pair pipeline: no shingle explode / join machinery in-plan
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    exchanges.foreach(p => assert(!p.contains("text#"),
      s"raw-text-keyed exchange: $p"))
  }

  test("q202 LR step: join-free dense kernel, only the 33-row gradient aggregate shuffles") {
    val df = Curation.lrStepProbe(spark, sf0001)
    val plan = executedPlan(df)
    // the model enters as a 33-literal array folded per ROW (zip_with +
    // ordered aggregate — the q100 kernel discipline); the step has NO
    // join of any kind and no window: scan → project → posexplode →
    // 33-key aggregate. The cached feature BUILD below the
    // TableCacheQueryStage boundary legitimately joins labels once —
    // assert join-freedom on the step portion above it.
    val step = plan.split("TableCacheQueryStage")(0)
    assert(!step.contains("Join"), step.take(4000))
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(plan.contains("zip_with") || plan.contains("aggregate"), plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
  }

  test("q203 scoring: model folds in as literals — no window, no cartesian, no label pass") {
    // force the artifact so the scorer's own plan is what's measured
    Curation.ensureLrModel(spark, sf0001)
    val df = Curation.lrQualityScore(spark, sf0001)
    val plan = executedPlan(df)
    // the q198 featurizer front keeps its certified joins (idf/norm);
    // the MODEL adds none — it rides in as a 33-literal zip_with fold —
    // and the scorer never re-derives labels (no quality/stopword pass).
    // The physical text truncates deep expressions, so the fold is
    // asserted on the optimized logical plan.
    assert(!plan.contains("CartesianProduct") && !plan.contains("windowspecdefinition"),
      plan.take(4000))
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("zip_with"), logical.take(4000))
    assert(!logical.contains("n_stopwords"), logical.take(4000))
  }

  test("q215 recalibration card: fit reads the cached (z,y) table; card is one tiny aggregate") {
    Curation.ensureLrModel(spark, sf0001)
    val df = Curation.plattRecalibration(spark, sf0001)
    val plan = executedPlan(df)
    // the fitted (a, b) fold in as literals over the ScopedCache'd
    // 2-column margin table — the card's own plan has no window, no
    // Expand, no cartesian, and aggregates straight into <=10 bins
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
    // the (z, y) table is served from the REGISTERED checkpoint (r18 —
    // the same truncated table the GD loop stepped over), not
    // re-derived: the card's own plan is a scan of the checkpoint leaf,
    // and the featurizer's idf join never appears above it
    assert(plan.contains("Scan ExistingRDD") || plan.contains("TableCacheQueryStage")
        || plan.contains("InMemoryTableScan"),
      plan.take(4000))
    assert(!plan.split("Scan ExistingRDD")(0).contains("idf"), plan.take(4000))
  }

  test("q222 epoch shuffle: narrow permutation map — windows per-source or above aggregates, no SMJ") {
    val df = Curation.epochShuffle(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      plan.take(4000))
    // the Feistel walk adds NO exchange of its own: windows are q68's
    // per-source running sum + the per-source rank (both partitioned)
    // and the #sources-row offset cumulative (unpartitioned but above
    // an aggregate — bounded by the source count, the q211 idiom)
    val windowNodes = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windowNodes.foreach(w => assert(
      w.partitionSpec.nonEmpty || allNodes(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      w.toString.take(2000)))
    // offsets and epochs ride in as broadcasts, and the walk is the ONE
    // native codegen expression (not an unrolled projection stack)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.take(4000))
    assert(plan.contains("graft_feistel_walk"), plan.take(4000))
  }

  test("q223 DoReMi: one corpus pass into the source-loss table; weights fold back as a broadcast") {
    val df = Curation.doremiWeights(spark, sf0001)
    val plan = executedPlan(df)
    // the iteration happened driver-side before this plan exists: no
    // window, no cartesian, no iterative aggregates — just q103's
    // chain into a #sources aggregate plus the broadcast weight join
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("q227 training chunks: the composed chain keeps the exchange discipline end to end") {
    val df = Profiling.ccnetTrainingChunks(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    // the walk is the single codegen kernel, never an unrolled stack
    assert(plan.contains("graft_feistel_walk"), plan.take(4000))
    // windows: per-source (pack + rank) or above bounded aggregates
    // (q211's grid, the #sources offsets) — never a bare corpus window
    val windowNodes = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windowNodes.foreach(w => assert(
      w.partitionSpec.nonEmpty || allNodes(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      w.toString.take(2000)))
  }

  test("q226 DoReMi sampler: broadcast rate gate on a narrow scan — no window, no SMJ") {
    val df = Curation.doremiSample(spark, sf0001)
    val plan = executedPlan(df)
    // the weight iteration happened driver-side; the emitted plan is
    // the census aggregate + the broadcast rate join + the codegen'd
    // integer draw filter (q188's posture)
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("q224 method card: corpus work is q215's cached (z,y) pass; isotonic joins are bin-card-sized") {
    Curation.ensureLrModel(spark, sf0001)
    val df = Curation.calibrationMethodCard(spark, sf0001)
    val plan = executedPlan(df)
    // no corpus window, no cartesian; the isotonic interval/minimax
    // joins sit ABOVE the <=11-bin aggregates (every join input is an
    // aggregate of the scored table, never the corpus)
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    // all three method branches read the ONE registered (z, y)
    // checkpoint the GD loop stepped over (r18 — VERDICT r17 #5), so
    // the leaf is the checkpoint scan, not an InMemory cache
    assert(plan.contains("Scan ExistingRDD") || plan.contains("TableCacheQueryStage")
        || plan.contains("InMemoryTableScan"),
      plan.take(4000))
  }

  test("q219 served recalibration: pure map over the margin — no label pass, no window") {
    Curation.ensurePlattModel(spark, sf0001)
    val df = Curation.plattScoresServed(spark, sf0001)
    val plan = executedPlan(df)
    // the frozen (w, a, b) ride in as literals; serving never re-derives
    // labels (no quality/stopword pass) and never fits (no iterative
    // aggregates) — the q203 serving guard extended to the recalibrator
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("zip_with"), logical.take(4000))
    assert(!logical.contains("n_stopwords"), logical.take(4000))
  }

  test("q206 sweep: one corpus pass into a tiny histogram — no window, no tenfold inflate") {
    Curation.ensureLrModel(spark, sf0001)
    val df = Curation.lrThresholdSweep(spark, sf0001)
    val plan = executedPlan(df)
    // the ten thresholds join the <=22-row histogram (a broadcast
    // non-equi join over post-aggregate rows), never the corpus; no
    // window, no Expand, no cartesian anywhere
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    // the scorer front keeps q203's shape: the corpus aggregates before
    // any threshold logic sees it
    assert(plan.contains("HashAggregate"), plan.take(4000))
  }

  test("q207 smoothed surprisal: stat windows sit above the pair aggregate, never the corpus") {
    val df = TextOps.smoothedBigramSurprisal(spark, sf0001)
    val plan = executedPlan(df)
    // r18: the lft/cont statistics are vocabulary-keyed windows over the
    // collapsed pair table (one pass — the branch-per-statistic shape
    // re-executed the tokenize chain per branch); the 1-row type total
    // still broadcasts (the scalar idiom); the corpus is never
    // self-joined, and every window is PARTITIONED and sits above the
    // pair HashAggregate — never over raw corpus rows
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(4000))
    val windowNodes = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windowNodes.nonEmpty, plan.take(4000))
    windowNodes.foreach(w => assert(
      w.partitionSpec.nonEmpty && allNodes(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      w.toString.take(2000)))
  }

  test("q210 served encode: shuffle-free scan before the presentation sort") {
    TextOps.ensureBpeMerges(spark, sf0001)
    val plan = executedPlan(TextOps.bpeEncodeStats(spark, sf0001))
    // the merge table rides in as broadcast 1-row literals; the stats
    // are per-row arithmetic — no aggregate, no window, no equi-join
    // shuffle anywhere; the only exchanges are the broadcasts and the
    // output's range sort
    assert(!plan.contains("windowspecdefinition") && !plan.contains("SortMergeJoin"),
      plan.take(4000))
    assert(!plan.contains("HashAggregate"), plan.take(4000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(4000))
    assert(plan.contains("graft_bpe_merge"), plan.take(4000))
  }

  test("q216 fertility card: q210's shuffle-free encode into one lang-keyed rollup") {
    TextOps.ensureBpeMerges(spark, sf0001)
    val df = TextOps.bpeFertilityCard(spark, sf0001)
    val plan = executedPlan(df)
    // the encode scan keeps q210's shape (per-row merge kernel, no
    // window, no equi-join shuffle); the only aggregates are the
    // <=|langs|-row rollup and its 1-row total — the total rides back
    // as the broadcast-one-row-literal idiom (a BNLJ over POST-AGGREGATE
    // rows is the idiom's physical form; what must not exist is a
    // cartesian or a BNLJ over corpus rows, which the merge-kernel scan
    // sitting BELOW the first aggregate rules out)
    assert(!plan.contains("windowspecdefinition") && !plan.contains("SortMergeJoin"),
      plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(plan.contains("graft_bpe_merge"), plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
    // every BNLJ broadcasts either a merge-pair LITERAL (LocalTableScan)
    // or the post-aggregate 1-row total — i.e. the build side's TOP node
    // below the broadcast is a literal or an aggregate, never raw corpus
    // rows (the total's subtree legitimately re-derives from the corpus;
    // what matters is the aggregate caps it at one row before broadcast)
    val bnlj = allNodes(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.nonEmpty)
    bnlj.foreach { j =>
      val build = if (j.buildSide.toString.contains("Right")) j.right else j.left
      val top = allNodes(build).find(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
        // a reused broadcast is the literal's exchange shared across the
        // merge chain — bounded by construction
        n.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      assert(top.exists(n =>
        !n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
        s"BNLJ build side is neither a literal nor post-aggregate:\n$j")
    }
  }

  test("q218 depth sweep: cached token table, shuffle-free encodes into tiny aggregates") {
    TextOps.ensureBpeMerges(spark, sf0001)
    val df = TextOps.bpeDepthSweep(spark, sf0001)
    val plan = executedPlan(df)
    // one encode chain per depth over the ScopedCache'd token table,
    // each collapsing into a vocabulary-sized keyed aggregate then one
    // row; no window, no SMJ, no Expand (two-level distinct)
    assert(!plan.contains("windowspecdefinition") && !plan.contains("SortMergeJoin"),
      plan.take(4000))
    assert(!plan.contains("Expand") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(plan.contains("TableCacheQueryStage") || plan.contains("InMemoryTableScan"),
      plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
  }

  test("q211 tertiles: the only unpartitioned window runs over the bounded grid, never the corpus") {
    val df = TextOps.perplexityBuckets(spark, sf0001)
    val plan = executedPlan(df)
    // the grid cumulative (q167's count-of-counts idiom) is the ONE
    // unpartitioned window, and its input is the grid histogram (an
    // aggregate, bounded by the milli-nat design constant); every other
    // window is r18's vocabulary-keyed q207 stat window — partitioned,
    // above the pair aggregate. The corpus itself is never globally
    // sorted or windowed, and the cuts ride in as a broadcast scalar.
    assert("windowspecdefinition".r.findAllIn(plan).size >= 1, plan.take(4000))
    val windowNodes = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val unpart = windowNodes.filter(_.partitionSpec.isEmpty)
    assert(unpart.size === 1, s"${unpart.size} unpartitioned window nodes")
    windowNodes.foreach(w => assert(allNodes(w).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      w.toString.take(2000)))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q205 BPE pair recount: map-side-combined aggregate, no window, no join") {
    val plan = executedPlan(TextOps.bpeStepProbe(spark, sf0001))
    // the recount is explode → partial HashAggregate → exchange → final:
    // the pair stream collapses to the pair vocabulary map-side, and
    // nothing in the round uses a window or joins the corpus
    assert(plan.contains("HashAggregate"), plan.take(4000))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(4000))
    assert(!plan.contains("windowspecdefinition") && !plan.contains("Window"),
      plan.take(4000))
    assert(!plan.contains("Join"), plan.take(4000))
  }

  test("q205 serving tokenizer: replaying merges is a pure map — no shuffle, no window") {
    val d = sources.Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val df = TextOps.bpeEncode(d, Seq(("row", "batch"), ("scan", "column")))
    val plan = executedPlan(df)
    // each learned pair rides in as a broadcast 1-row literal (the
    // broadcast-scalar idiom); the merge kernel itself is a codegen'd
    // per-row call — the whole chain has no data exchange at all
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      plan.take(4000))
    assert(!plan.contains("windowspecdefinition") && !plan.contains("SortMergeJoin"),
      plan.take(4000))
    assert(plan.contains("graft_bpe_merge") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(4000))
  }

  test("q229 decontam card: both screens equi-join on 8-byte keys; card assembly broadcast-only") {
    val df = SpanDedup.decontamMethodCard(spark, sf0001)
    val plan = executedPlan(df)
    // the two audits keep their certified shapes (q138's equi-join hit
    // test, q157's min(struct) winnow selection — no window anywhere);
    // the only nested-loop joins are the broadcast 1-row index-size
    // scalars (the q93 idiom); nothing multi-distincts through Expand
    assert(!plan.contains("windowspecdefinition"), plan.take(4000))
    assert(!plan.contains("Expand"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(plan.contains("LeftOuter"), plan.take(4000))
  }

  test("q228 mixture card: one corpus pass through a broadcast threshold join into bounded aggregates") {
    val df = TextOps.mixtureMethodCard(spark, sf0001)
    val plan = executedPlan(df)
    // the corpus meets only the broadcast 3·|langs|-row threshold table
    // (null-safe equi-join — still hash-broadcastable); every other join
    // input is a bounded aggregate. No corpus window, no cartesian.
    assert(!plan.contains("windowspecdefinition") && !plan.contains("CartesianProduct"),
      plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(plan.contains("HashAggregate"), plan.take(4000))
  }
}
