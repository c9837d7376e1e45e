package graft

import graft.queries._

/** Plan-shape assertions: the 100 TB guarantees the Scaladoc promises
  * (pushdown, pruning, broadcasts, no accidental cartesian products)
  * hold in the actual executed plans at sf0.001.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter and prunes columns at the parquet scan") {
    val plan = planOf(RelationalQueries.q1Agg(spark, dir))
    // no inferred IsNotNull alongside it since filter-inference rules
    // are excluded (GraftSession) — LessThan alone filters nulls and
    // still drives row-group stats pruning
    assert(plan.contains("PushedFilters: [LessThan(l_shipdate"))
    // projection pruning: partkey/suppkey never read
    assert(plan.contains("ReadSchema") && !plan.contains("l_partkey"))
  }

  test("q3_join broadcasts the customer dim; no cartesian product") {
    val plan = planOf(RelationalQueries.q3Join(spark, dir))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("melt_from_hobo broadcasts the daily-albedo side (r15 plan-sweep fix)") {
    // the albedo side is a per-day aggregate of the fixture (bounded
    // rows); without the hint the planner picked a LeftOuter SMJ and
    // paid two sort+exchange pairs (plans/r15/melt_from_hobo_before.txt)
    val plan = planOf(MeltQueries.meltFromHobo(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"melt_from_hobo lost its broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"melt_from_hobo regressed to a sort-merge join:\n$plan")
  }

  test("no query plan contains a cartesian product (bounded NLJ broadcasts excepted)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = planOf(fn(spark, dir))
      assert(!plan.contains("CartesianProduct"),
        s"$name has a cartesian product:\n$plan")
    }
  }

  test("ts_clip_window pushes the time range to the parquet scan as raw-nanos bounds") {
    val plan = planOf(TimeSeriesQueries.tsClipWindow(spark, dir))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts") && plan.contains("LessThan(ts"),
      s"time clip not pushed down:\n$plan")
  }

  test("window operators shuffle once on the series key (single Exchange before Window)") {
    // every rolling key is the one halo-bucketed cRolling body: one
    // hashpartitioning on (user_id, bucket), no broadcast, no join
    Seq("ts_rolling_center", "ts_rolling_multi", "ts_rolling_std",
        "ts_rolling_scalable", "ts_rolling_median_scalable").foreach { name =>
      val plan = planOf(SparkEntry.queries(name)(spark, dir))
      assert(plan.contains("Window"), s"$name has no Window:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"$name shuffles more than once:\n$plan")
      assert(!plan.contains("BroadcastExchange"), s"$name broadcasts:\n$plan")
      assert(!plan.contains("Join"), s"$name joins:\n$plan")
    }
    // the melt keys run the same body: their event rows cross only
    // (user_id, bucket) exchanges. The daily pick aggregates inside those
    // partitions, so one more shuffle, on user_id for the forward fill,
    // carries per-(key, bucket, day) rows, and melt_pipeline's albedo
    // join broadcasts per-day rows. melt_pipeline's albedo side and event
    // side each read the body, and Spark prunes each read to its own
    // frames and columns, so their two bucket exchanges differ and are
    // not reused. AQE off so the physical exchanges are visible before
    // execution.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("melt_albedo" -> 1, "melt_pipeline" -> 2).foreach { case (name, reads) =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      val (events, perDay) = plan.collect { case e: Exchange => e }.partition {
        case s: ShuffleExchangeExec =>
          s.outputPartitioning.asInstanceOf[Expression].references.exists(_.name == "_b")
        case _ => false
      }
      assert(events.size === reads, s"$name: ${events.size} bucket exchanges:\n$plan")
      assert(perDay.count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
        s"$name: the daily pick shuffles apart from the forward fill:\n$plan")
      perDay.foreach(e => assert(e.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
        s"$name ships event rows through a non-bucket exchange:\n$e"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("no window frame grows toward UNBOUNDED FOLLOWING; forward-looking ts operators sort once") {
    // Spark re-aggregates a (CURRENT ROW | n FOLLOWING) .. UNBOUNDED
    // FOLLOWING frame for every row, so one such frame makes an operator
    // quadratic in its key's length. The forward-looking operators use
    // lead(..., ignoreNulls) instead. Whole-partition frames (UNBOUNDED
    // PRECEDING .. UNBOUNDED FOLLOWING) are computed once per partition.
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame,
      UnboundedFollowing, UnboundedPreceding, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val growing = fn(spark, dir).queryExecution.optimizedPlan
        .collectWithSubqueries { case w: LWindow => w.windowExpressions }
        .flatten.flatMap(_.collect {
          case we @ WindowExpression(_, spec) if (spec.frameSpecification match {
            case SpecifiedWindowFrame(_, lo, UnboundedFollowing) =>
              lo != UnboundedPreceding
            case _ => false
          }) => we
        })
      assert(growing.isEmpty,
        s"$name evaluates a growing-following frame:\n${growing.mkString("\n")}")
    }
    // one exchange feeds the single sort all of an operator's windows
    // share; ts_upsample_nearest also shuffles its per-key grid bounds
    Seq("ts_interpolate" -> 1, "ts_asof_forward" -> 1, "ts_asof_nearest" -> 1,
        "ts_upsample_nearest" -> 2).foreach { case (name, exchanges) =>
      val plan = planOf(SparkEntry.queries(name)(spark, dir))
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === exchanges,
        s"$name shuffles more than its series key:\n$plan")
      assert("Sort \\[".r.findAllIn(plan).size === 1, s"$name sorts twice:\n$plan")
    }
  }

  test("as-of join is union + window: no join node at all") {
    val plan = planOf(TimeSeriesQueries.tsAsofJoin(spark, dir))
    assert(plan.contains("Union"))
    assert(!plan.contains("Join"), s"asof should be join-free:\n$plan")
  }

  test("plain extrema is one partial-aggregating hash agg: no window, one exchange") {
    val plan = planOf(DiurnalQueries.diurnalExtrema(spark, dir))
    // the struct-min/max form must not sort observations in a WindowExec
    assert(!plan.contains("Window"), s"extrema regressed to a window:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"extrema should shuffle once, post-combine:\n$plan")
    // partial aggregation below the exchange (map-side combine)
    assert(plan.contains("partial_min") || plan.contains("partial"),
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("boundary-checked extrema are join-free: one obs pass, two exchanges") {
    val plan = planOf(DiurnalQueries.diurnalBoundary(spark, dir))
    assert(!plan.contains("Join"),
      s"boundary check should evaluate on the pick's own obs row:\n$plan")
    // one Exchange for the ±5-row neighborhood (keys), one for the
    // per-day stats + final aggregation (keys, day)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"boundary check re-shuffles:\n$plan")
  }

  test("ds_sample / ds_budget / ds_mix never shuffle the corpus rows") {
    // L-family filters are scan + (broadcast join +) row-local predicate;
    // the only exchanges allowed are the tiny dim/totals aggregations
    // and broadcasts — never a hashpartitioning of the documents rows.
    Seq("ds_sample" -> MixQueries.dsSample(spark, dir),
        "ds_mix" -> MixQueries.dsMix(spark, dir)).foreach { case (n, df) =>
      val plan = planOf(df)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$n shuffles the corpus:\n$plan")
    }
    val budget = planOf(MixQueries.dsBudget(spark, dir))
    assert(budget.contains("BroadcastHashJoin"),
      s"ds_budget should broadcast the rates:\n$budget")
    // the one allowed exchange aggregates per-source totals (20 rows),
    // not the corpus join key
    assert("Exchange hashpartitioning".r.findAllIn(budget).size <= 1,
      s"ds_budget re-shuffles:\n$budget")
  }

  test("ds_pack_global windows partition by (shard, sub-shard); bases broadcast back") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = MixQueries.dsPackGlobal(spark, dir)
    assert(planOf(df).contains("BroadcastHashJoin"),
      s"sub-shard bases should broadcast:\n${planOf(df)}")
    // inspect the Window NODES, not the plan string: the corpus-row
    // prefix-sum must partition by (shard, _ss); a window keyed by the
    // shard alone is allowed only above the tiny totals Aggregate
    // (pass 2's base cumsum)
    def partKeys(w: LWindow): Set[String] =
      w.partitionSpec.flatMap(_.references.toSeq).map(_.name).toSet
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.exists(w => partKeys(w).exists(_.contains("_ss"))),
      "no (shard, sub-shard) window found in ds_pack_global")
    val wholeShardOnCorpus = windows.filter(w =>
      !partKeys(w).exists(_.contains("_ss")) &&
        w.child.collectFirst { case a: Aggregate => a }.isEmpty)
    assert(wholeShardOnCorpus.isEmpty,
      s"corpus-row window partitioned by the shard alone:\n$wholeShardOnCorpus")
  }

  test("dedup_decontam broadcasts the benchmark; corpus shuffles only for its own count") {
    val plan = planOf(DedupQueries.dedupDecontam(spark, dir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"benchmark side should be a broadcast semi-join:\n$plan")
    // two exchanges only: the benchmark's distinct (tiny, under the
    // BroadcastExchange) and the corpus's own doc_id count after the join
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"decontam shuffles more than bench-distinct + final count:\n$plan")
    assert("hashpartitioning\\(doc_id".r.findFirstIn(plan).isDefined,
      s"the corpus exchange should be the doc_id count:\n$plan")
  }

  test("text_repetition aggregates with map-side partials and no sort window") {
    val plan = planOf(TextQueries.textRepetition(spark, dir))
    assert(!plan.contains("WindowExec") && !plan.contains("Window"),
      s"repetition signals regressed to a window:\n$plan")
    assert(plan.contains("partial"),
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("dedup_substring shuffles only ids/positions/hashes — window strings never leave the row") {
    // the Scaladoc's scale claim, checked on the Exchange NODES: every
    // shuffled row is (doc_id, pos, hash) longs/ints; the 8-token
    // window STRINGS exist only inside the codegen projection. AQE off
    // so the physical exchanges are visible pre-execution.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = DedupQueries.dedupSubstring(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected shuffles in the DF-count plan")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType == StringType),
          s"a string column is being shuffled:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("text_lines_dedup: line DF shuffles hashes as longs; only the cut join moves document content") {
    // the Scaladoc's scale claim: raw line strings never reach an
    // Exchange — the document-frequency pass ships (doc_id, pos,
    // xxhash64) longs, and the only exchange carrying document content
    // (the array<string> line split) is the single doc_id cut join
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = DedupQueries.textLinesDedup(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected shuffles in the line-DF plan")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType == StringType),
          s"a raw line string is being shuffled:\n$e")
      }
      val contentMoves = exchanges.count(_.output.exists(
        _.dataType == ArrayType(StringType, containsNull = false)))
      assert(contentMoves <= 1,
        s"document content crossed $contentMoves exchanges; only the cut join may move it")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dedup_embed banding stays inside whole-stage codegen (no interpreted projection)") {
    // the r8 regression guard: the banding projection fell out of
    // codegen when it was a 64-column expression tree; the packed
    // HyperplaneBandValues expression must keep its scan+project span
    // compiled
    val banded = graft.similarity.Similarity.lshBands(
      graft.tables.Tables.embeddings(spark, dir), "vec_id", "embedding",
      64, 64, 8)
    val plan = banded.queryExecution.executedPlan.toString
    // the "*(n)" prefix is the whole-stage-codegen stage marker; the
    // banding Generate node must carry it
    assert("""\*\(\d+\) Generate posexplode\(hyperplane_band_values""".r
      .findFirstIn(plan).isDefined,
      s"banding projection left whole-stage codegen:\n$plan")
  }

  test("dedup_contam_frac never moves the corpus — a zero-exchange codegen projection") {
    // the whole-corpus contamination score: bench hashes are a bounded
    // driver-side set, so shingling, sizing, and set-count membership
    // must all stay row-local — any Exchange or Join here would be the
    // corpus moving to score itself against a tiny eval set
    val plan = planOf(DedupQueries.dedupContamFrac(spark, dir))
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"contamination scoring should be a pure projection:\n$plan")
  }

  test("emb_quantize is a pure row-local projection — no exchange of any kind") {
    val plan = planOf(SimilarityQueries.embQuantize(spark, dir))
    assert(!plan.contains("Exchange"),
      s"quantization should not move data:\n$plan")
  }

  test("emb_project is a pure row-local projection — the matrix is derived, never joined") {
    val plan = planOf(SimilarityQueries.embProject(spark, dir))
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"JL projection should not move data:\n$plan")
  }

  test("ds_stratified keeps map-side top-k per group (WindowGroupLimit) before one exchange") {
    val plan = planOf(MixQueries.dsStratified(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k filter did not become a group limit:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"expected exactly the per-source exchange:\n$plan")
  }

  test("ev_funnel shuffles the events table once — stacked windows share one exchange") {
    val plan = planOf(RelationalQueries.evFunnel(spark, dir))
    // one hash exchange on user_id shared by all three running-min
    // windows AND the per-user groupBy (same key -> no re-shuffle);
    // the only other exchange is the 1-row-per-partition final reduce
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"funnel should shuffle events exactly once:\n$plan")
    assert(!plan.contains("Join"), s"funnel must stay join-free:\n$plan")
  }

  test("centroid assignment is a zero-exchange row-local projection (no xk join)") {
    // VERDICT r6 #1: the corpus side of k-means/IVF/SemDeDup assignment
    // must never amplify x k through a join or move through an Exchange
    // — at 100 TB with k in the 10^3-10^5 range that exchange is
    // petabytes. Pin the projection shape directly...
    val cents = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val df = spark.range(100).selectExpr("id",
        "array(cast(id as double), cast(id % 7 as double)) as v")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.graft.CentroidExpressions
          .nearestCentroidId(org.apache.spark.sql.functions.col("v"), cents)
          .as("cid"))
    val plan = planOf(df)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"assignment should be a pure projection:\n$plan")
    // ...and that no assignment consumer re-grew the old shape
    // (centroid BNLJ + row_number window keyed on the vector id).
    // dedup_semantic: no NLJ at all. ann_ivf: exactly ONE, the bounded
    // 1-row query-vector broadcast bruteForceTopK declares (its rank is
    // TakeOrdered, so any Window = the old assignment sneaking back).
    val semPlan = planOf(DedupQueries.defs("dedup_semantic")(spark, dir))
    assert(!semPlan.contains("BroadcastNestedLoopJoin"),
      s"dedup_semantic reintroduced the xk centroid join:\n$semPlan")
    val ivfPlan = planOf(SimilarityQueries.defs("ann_ivf")(spark, dir))
    assert("BroadcastNestedLoopJoin".r.findAllIn(ivfPlan).size <= 1 &&
        !ivfPlan.contains("row_number"),
      s"ann_ivf reintroduced the xk centroid join:\n$ivfPlan")
  }

  test("ann_knn_join: map-side top-k and dynamically pruned assignments scan") {
    val plan = planOf(SimilarityQueries.defs("ann_knn_join")(spark, dir))
    // rank-limit pushdown: each task emits at most k rows per query
    // BEFORE the query_id exchange — the shuffle carries O(queries x k),
    // not O(candidates)
    assert(plan.contains("WindowGroupLimit"),
      s"per-query rank lost its group-limit pushdown:\n$plan")
    // the probed-cid semi-join must reach the assignments scan as a
    // dynamic partition-pruning filter, not a post-read filter
    assert(plan.contains("dynamicpruning"),
      s"assignments scan is not partition-pruned by the probes:\n$plan")
  }

  test("text_tfidf physically explodes the corpus once (tf exchange reused by df)") {
    // the tf subtree is referenced by both the join's left side and the
    // df aggregate; the always-true _tf reference in tfidfTopTerms keeps
    // the two copies' exchanges identical so exchange reuse collapses
    // them. AQE applies reuse only during execution (invisible on an
    // unexecuted plan), so pin the static rule with AQE off — the same
    // canonicalized-subtree match AQE's stage reuse performs at runtime.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(TextQueries.textTfidf(spark, dir))
      assert(plan.contains("ReusedExchange"),
        s"df branch recomputes the corpus explode instead of reusing tf:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("histogram-quantile windows run over the histogram aggregate, never corpus rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    Seq("ds_stats" -> MixQueries.dsStats(spark, dir),
        "ds_quality_floor" -> MixQueries.dsQualityFloor(spark, dir),
        "ts_mad" -> TimeSeriesQueries.tsMad(spark, dir))
      .foreach { case (n, df) =>
        val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        assert(windows.nonEmpty, s"$n lost its quantile windows")
        windows.foreach { w =>
          assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
            s"$n has a window over raw corpus rows (no aggregate below it):\n$w")
        }
      }
    // the floor threshold comes back as a broadcast, the filter is row-local
    val floor = planOf(MixQueries.dsQualityFloor(spark, dir))
    assert(floor.contains("BroadcastHashJoin"),
      s"ds_quality_floor should broadcast the thresholds:\n$floor")
  }

  test("text_c4_filter is a pure row-local projection — no exchange of any kind") {
    val plan = planOf(TextQueries.textC4Filter(spark, dir))
    assert(!plan.contains("Exchange"), s"c4 filter shuffles:\n$plan")
    assert(!plan.contains("Join"), s"c4 filter joins:\n$plan")
  }

  test("text_bm25: stats ride one broadcast 1-row aggregate; top-k is TakeOrdered") {
    val plan = planOf(TextQueries.textBm25(spark, dir))
    // no corpus explode: tf counting is row-local HOFs, so the only
    // exchange feeds the 1-row stats aggregate (plus its broadcast)
    assert(!plan.contains("Generate"), s"bm25 exploded the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 top-k should be TakeOrdered (map-side partial top-k):\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"bm25 shuffles the corpus:\n$plan")
  }

  test("ds_winsorize: cutpoints broadcast back; corpus rows never sort") {
    val plan = planOf(MixQueries.dsWinsorize(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"winsorize should broadcast the cutpoint dim:\n$plan")
    // the only Sort allowed is inside the histogram cum-window (tiny);
    // the corpus side is scan -> broadcast-join -> project
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = MixQueries.dsWinsorize(spark, dir)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"winsorize has a window over raw corpus rows:\n$w")
    }
  }

  test("q_topk / q_window_topk: rank<=k rewrites to a map-side WindowGroupLimit") {
    Seq("q_topk" -> RelationalQueries.qTopk(spark, dir),
        "q_window_topk" -> RelationalQueries.qWindowTopk(spark, dir),
        "q_merge" -> RelationalQueries.qMerge(spark, dir))
      .foreach { case (n, df) =>
        val plan = planOf(df)
        assert(plan.contains("WindowGroupLimit"),
          s"$n ships whole groups through the exchange instead of local top-k:\n$plan")
      }
  }

  test("ann_ivf_pq: bucket prune + ADC is one zero-exchange scan plan") {
    val plan = planOf(SimilarityQueries.annIvfPq(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"ivf-pq top-k should be TakeOrdered:\n$plan")
    assert(!plan.contains("Join"), s"ivf-pq scoring joins:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"ivf-pq scoring shuffles the corpus:\n$plan")
  }

  test("text_hybrid reranks ONLY the candidate set (one broadcast join, no corpus explode)") {
    val plan = planOf(TextQueries.textHybrid(spark, dir))
    assert(!plan.contains("Generate"), s"hybrid exploded the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"hybrid rerank should be TakeOrdered:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"hybrid candidate join regressed to a shuffle join:\n$plan")
  }

  test("dedup_hamming: fingerprint is a codegen projection; block join is the only corpus-pair path") {
    val plan = planOf(DedupQueries.dedupHamming(spark, dir))
    // the fingerprint expression must sit inside whole-stage codegen,
    // not an interpreted projection (the r9 dedup_embed lesson)
    assert(plan.contains("portable_simhash64"), s"fingerprint expr missing:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"hamming pairing must be the block equi-join, not all-pairs:\n$plan")
    // candidate generation + verify joins are all hash equi-joins
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
  }

  test("dedup_simhash: row-local exactly-once — no dropDuplicates exchange, no pair-set window") {
    val plan = planOf(DedupQueries.dedupSimhash(spark, dir))
    assert(plan.contains("simhash_bands"), s"band expr missing:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"simhash pairing must be the band equi-join, not all-pairs:\n$plan")
    // the r11 rewrite: pair dedup is the smallest-surviving-matching-
    // block FILTER on the join output — a dropDuplicates over the
    // candidate-pair set (the 18x-growth r10 shape) or a Window over
    // it must never reappear. (The capped path's bucket-size aggregate
    // is a HashAggregate over the small banded rows, not a Window.)
    assert(!plan.contains("Window"),
      s"pair-set window resurfaced (was: count-window bucket stats):\n$plan")
    val dd = "Deduplicate|dropDuplicates".r.findAllIn(plan).toSeq
    assert(dd.isEmpty, s"dropDuplicates exchange resurfaced:\n$plan")
  }

  test("ann_hamming: one broadcast of the 1-row query sketch feeding TakeOrdered") {
    val plan = planOf(SimilarityQueries.annHamming(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"hamming top-k must be map-side partial top-k, not a full sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), // the bounded 1-row scalar
      s"query sketch should ride a broadcast:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"corpus must not shuffle for a scan-and-rank query:\n$plan")
  }

  test("ts_step: both frames share one exchange and one Window node") {
    val plan = planOf(TimeSeriesQueries.tsStep(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"asymmetric frames must share the (key, ts) exchange:\n$plan")
    assert("Window\\b".r.findAllIn(plan).size >= 1)
  }

  test("ds_epochs: corpus collapses in one aggregate; shares broadcast onto the dim") {
    val plan = planOf(MixQueries.dsEpochs(spark, dir))
    // corpus-side: exactly one hash exchange (the per-source partial
    // agg); the window over ~20 dim rows adds a singlepartition
    // exchange, not a corpus shuffle
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"token totals must be ONE map-side-combining aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"shares dim should broadcast:\n$plan")
  }

  test("q_salted: two bounded aggregation phases — (key, salt) exchange then key exchange") {
    val plan = planOf(RelationalQueries.qSalted(spark, dir))
    // exactly two hash exchanges: the salted partial and the merge
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2,
      s"salted agg must be two phases:\n$plan")
    assert(plan.contains("HashAggregate"))
  }

  test("ts_gaps: one exchange shared by the lag window and the aggregate") {
    val plan = planOf(TimeSeriesQueries.tsGaps(spark, dir))
    // the groupBy keys are a prefix of the window partitioning, so the
    // aggregate reuses the window's exchange — one corpus shuffle total
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"gap audit should reuse the (key) exchange:\n$plan")
  }

  test("q_approx_sketch is one partial-aggregating pass — no Expand, no join, one exchange") {
    val plan = planOf(RelationalQueries.qApproxSketch(spark, dir))
    // the sketch-only entry must keep the shape that justifies its
    // existence: map-side-combining sketch aggregates over one scan.
    // An Expand node would mean countDistinct leaked back in; a join
    // would mean a certificate half rode along.
    assert(!plan.contains("Expand"), s"sketch plan expands:\n$plan")
    assert(!plan.contains("Join"), s"sketch plan joins:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"sketch half should shuffle only the 3-group partials:\n$plan")
    assert(plan.contains("partial_approx_count_distinct") ||
      plan.contains("HashAggregate"), s"no partial aggregation:\n$plan")
  }

  test("gps_station_dist_radius: grid-cell equi-join, no NLJ, means aggregate before pairing") {
    val plan = planOf(GpsQueries.gpsStationDistRadius(spark, dir))
    // the valve's point: candidate pairing is an EQUI-join on the grid
    // cell (hash or broadcast-hash), never the all-pairs nested loop
    // the plain gps_station_dist theta join plans
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"radius variant fell back to all-pairs:\n$plan")
    assert(plan.contains("HashJoin"), s"no hash equi-join in:\n$plan")
  }

  test("ann_pq scoring is a zero-exchange projection feeding TakeOrdered") {
    // the SCORING plan (fit runs eagerly before this plan is built):
    // encode + ADC are literal-embedded expressions over the scan
    val plan = planOf(SimilarityQueries.annPq(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"pq top-k should be TakeOrdered:\n$plan")
    assert(!plan.contains("Join"), s"pq scoring joins:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"pq scoring shuffles the corpus:\n$plan")
  }

  test("ds_pipeline chains six stages over one corpus scan and two exchanges") {
    // gate/decontam/sample are row-local flags; dedup keep-one rides
    // the content-hash exchange; budget rate, pack offsets AND the
    // final per-source aggregation all ride the source exchange (the
    // bench shingle set is collected at construction — its scan runs
    // eagerly, not in this plan). A third exchange or second corpus
    // scan means a stage recomputed the upstream lineage.
    val plan = planOf(MixQueries.dsPipeline(spark, dir))
    assert("Scan parquet|FileScan".r.findAllIn(plan).size === 1,
      s"pipeline scans the corpus more than once:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2,
      s"pipeline should exchange exactly twice (content, source):\n$plan")
    // the exchanges carry ids + flag-width columns, never document
    // bodies: every text-reading expression (hash, gate, overlap
    // count) is computed below the FIRST exchange, so `text` must not
    // appear anywhere above it (the plan prints top-down — the last
    // "Exchange hashpartitioning" in the string is the lowest one)
    val aboveFirstExchange =
      plan.substring(0, plan.lastIndexOf("Exchange hashpartitioning"))
    assert(!aboveFirstExchange.contains("text#"),
      s"document text travels through an exchange:\n$plan")
    // the default path keeps the bench hashes as a LongMembership
    // literal (tiny-by-contract eval set) — the valve must NOT have
    // engaged at this fixture size
    assert(plan.contains("array_count_in_set"),
      s"default path lost the row-local membership shape:\n$plan")
  }

  test("ds_pipeline decontam valve: no membership literal, broadcast semi-join decontam side") {
    // r14 valve engaged (threshold 0): the bench shingle hashes must
    // ship as a BROADCAST (once per executor), never as a plan-tree
    // literal (which travels in every task binary and has
    // corpus-unbounded driver mass); the overlap count joins the main
    // lineage by id. Price: a second corpus scan (the decontam side's
    // own, text-pruned) — pinned at exactly 2, not more.
    val d = graft.tables.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
    val bench = d.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0)
    val plan = planOf(graft.mix.Mix.curationPipeline(d, "doc_id", "source",
      "text", bench, "text", maxMembershipHashes = 0L))
    assert(!plan.contains("array_count_in_set"),
      s"valve engaged but the membership literal is still in the plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"valve decontam side is not a broadcast join:\n$plan")
    // >= 3 rather than === 3 (ADVICE r14): the real contract is "the
    // decontam side reads the corpus itself instead of a driver
    // literal" — pinned above by the no-literal + broadcast asserts;
    // exact scan-node counts are plan-string formatting (AQE exchange
    // reuse, InMemory scans, Spark version drift) and must not fail
    // this test without a behavioral regression
    assert("Scan parquet|FileScan".r.findAllIn(plan).size >= 3,
      s"valve path should scan documents twice + bench once:\n$plan")
  }

  test("dedup_pair_mass is linear: no exchange carries text, no quadratic node, map-side combine kept") {
    val df = DedupQueries.dedupPairMass(spark, dir)
    val plan = planOf(df)
    // the audit must never pay the quadratic stage it predicts
    assert(!plan.contains("CartesianProduct"))
    // STRUCTURAL no-text-through-exchange (the plan is multi-branch —
    // dup-class collapse + universe — so the ds_pipeline string slice
    // doesn't apply): every shuffle's output is (blk, hash,
    // partial-agg) width, never document bodies. Exchanges are
    // inserted by EnsureRequirements and AQE wraps the executed tree,
    // so collect with AQE off for this one plan.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exchanges =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        DedupQueries.dedupPairMass(spark, dir)
          .queryExecution.executedPlan.collect {
            case e: ShuffleExchangeExec => e
          }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text travels through an audit exchange:\n$plan")
    }
    // aggregates keep map-side combine before their exchange — the
    // (blk,s) df agg and the per-block rollup
    assert(plan.contains("partial_"),
      s"audit aggregates lost map-side combine:\n$plan")
  }

  test("maxCandidatePairs guard adds the mass scalar as a broadcast, not a shuffle or driver literal") {
    val plan = planOf(graft.dedup.Dedup.blockedJaccard(
      graft.tables.Tables.documents(spark, dir), "doc_id", "text",
      "source", maxCandidatePairs = Some(1000000L)))
    // the 1-row scalar rides a broadcast nested-loop (the bounded
    // 1-row class PlanSpec already excepts), never a CartesianProduct
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"guard scalar is not broadcast:\n$plan")
    // and the default None path is plan-identical to no guard at all
    val guarded = planOf(graft.dedup.Dedup.blockedJaccard(
      graft.tables.Tables.documents(spark, dir), "doc_id", "text",
      "source", maxCandidatePairs = None))
    val plain = planOf(graft.dedup.Dedup.blockedJaccard(
      graft.tables.Tables.documents(spark, dir), "doc_id", "text",
      "source"))
    def norm(p: String) =
      p.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("cv=\\[id=#\\]", "")
    assert(norm(guarded) === norm(plain),
      "None budget must be a zero-cost default")
  }
}
