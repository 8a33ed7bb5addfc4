package graft.queries

import graft.SparkSpec

/** Mechanical audit of the physical-plan properties the 100 TB design
  * rests on — previously verified by eye via `graft.tools.Explain`, now
  * locked in as assertions so a regression in pushdown, broadcast
  * choice, or codegen coverage fails the suite instead of a future
  * plan read.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Final plan AFTER execution: AQE only materializes its final tree
    * (and the codegen spans) once an action has run.
    */
  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect() // an action on THIS queryExecution (a write would plan a copy)
    df.queryExecution.executedPlan.toString()
  }

  test("q6: filters are pushed into the parquet scan") {
    val p = plan("q6_filter_agg")
    assert(p.contains("PushedFilters: [") && p.contains("l_shipdate"),
      s"expected l_shipdate in PushedFilters:\n$p")
  }

  test("q39: projection pruning — the scan reads only doc_id") {
    val p = plan("q39_stable_split")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"expected a doc_id-only ReadSchema:\n$p")
  }

  test("q2: the dimension side is broadcast, not shuffled") {
    val p = plan("q2_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q3: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q41: signatures come from the native expression, not an aggregation") {
    // the native minhash_signature expression must ride the scan/project,
    // not an explode + 64-buffer hash-aggregate (the round-2 formulation).
    // q41 checkpoints its signatures, so the expression is audited on
    // the shared lazy builder
    val sigs = Dedup.minhashSigs(Dedup.shingled(spark, dir))
      .queryExecution.optimizedPlan.toString()
    assert(sigs.contains("minhash_signature"), s"expected native signature expr:\n$sigs")
    assert(!sigs.contains("min(xxhash64"), s"round-2 aggregate formulation resurfaced:\n$sigs")
    val q = graft.SparkEntry.queries("q41_minhash_lsh")(spark, dir)
    val logical = q.queryExecution.optimizedPlan.toString()
    assert(!logical.contains("min(xxhash64"), s"round-2 aggregate formulation resurfaced:\n$logical")
  }

  test("q42: the SimHash block self-join is sort-merge, never broadcast-hash") {
    // round-10 derived-decade finding: the chunk frame is broadcastable
    // in BYTES but has only 13×32 distinct keys, and a HashedRelation
    // probe over ~n/32-deep duplicate chains ran the 558M-pair
    // enumeration 110× slower than SMJ's packed group loop. The merge
    // hint must keep the (chunk, cv, band) join out of BHJ.
    val p = plan("q42_simhash")
    assert(p.contains("SortMergeJoin [chunk"),
      s"expected the block self-join to be SortMergeJoin on chunk keys:\n$p")
    assert(!p.contains("BroadcastHashJoin [chunk"),
      s"block self-join fell back to the broadcast duplicate-chain cliff:\n$p")
  }

  test("q221: the pHash band self-join is sort-merge, never broadcast-hash") {
    // same cliff shape as q42: 4×16=64 distinct band keys
    val p = plan("q221_media_phash")
    assert(p.contains("SortMergeJoin [band"),
      s"expected the band self-join to be SortMergeJoin on band keys:\n$p")
    assert(!p.contains("BroadcastHashJoin [band"),
      s"band self-join fell back to the broadcast duplicate-chain cliff:\n$p")
  }

  test("q47: the packing window is partitioned — no single-partition WindowExec") {
    // the round-3 scale-killer: Window.orderBy with no partitionBy
    // serializes the corpus through one task ("No Partition Defined").
    // The registered form must keep the shard key in the window spec.
    // logical plan: AQE wraps the physical tree in query stages that
    // collect() does not descend into, but the logical Window is stable
    val df = graft.SparkEntry.queries("q47_seq_pack")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected a Window in the q47 plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"q47 regressed to an unpartitioned window:\n${df.queryExecution.optimizedPlan}")
  }

  test("q100: the quota window is partitioned by source — no single-partition WindowExec") {
    val df = graft.SparkEntry.queries("q100_source_quota")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"q100 must rank within sources, not globally:\n${df.queryExecution.optimizedPlan}")
  }

  test("q101: the index merge is a keyed full-outer join, never a cartesian") {
    val df = graft.queries.Dedup.q101MergeFrame(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.exists(_.joinType.sql == "FULL OUTER"),
      s"expected the fp-keyed full-outer index merge:\n$plan")
    assert(joins.forall(_.condition.nonEmpty),
      s"q101 must never join the index unkeyed:\n$plan")
  }

  test("q52: the fullprobe index scan stays cell-filtered (isin over cids)") {
    val df = graft.SparkEntry.queries("q52_ann_ivf_indexed_fullprobe")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("cid"), s"expected the cell-id filter/join in the plan:\n$p")
  }

  test("q31: fingerprinting is a map-only scan — no exchange except the final sort") {
    val df = graft.SparkEntry.queries("q31_fingerprint")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("min_shingle_md5"), s"expected the native fingerprint expr:\n$p")
    assert(!p.contains("HashAggregate"),
      s"q31 regressed to the explode + groupBy-min formulation:\n$p")
  }

  test("q57: SRP probe side is broadcast; signatures are the native expression") {
    val df = graft.SparkEntry.queries("q57_ann_srp_fullprobe")(spark, dir)
    val logical = df.queryExecution.optimizedPlan.toString()
    assert(logical.contains("srp_bucket"), s"expected native srp_bucket expr:\n$logical")
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"expected the probe frame broadcast into the bucket join:\n$p")
  }

  test("q63: PQ codes/LUT are native expressions; the query side is broadcast; " +
      "the re-rank fetch joins on nid") {
    val df = graft.SparkEntry.queries("q63_ann_pq_fullrerank")(spark, dir)
    val logical = df.queryExecution.optimizedPlan.toString()
    assert(logical.contains("pq_encode") && logical.contains("pq_lut")
      && logical.contains("pq_adc"),
      s"expected native PQ codec expressions:\n$logical")
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the ADC candidate pass sees the tiny query frame as a broadcast
    // (BroadcastNestedLoopJoin over the corpus codes scan), and the
    // re-rank fetch is a keyed join on nid — never a second corpus cross
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast query side:\n$p")
    assert(p.contains("nid"), s"expected the survivors-only fetch join on nid:\n$p")
  }

  test("q67: the salted join shuffles on (key, salt) — no broadcast collapse") {
    val df = graft.SparkEntry.queries("q67_salted_join")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastHashJoin"),
      s"salt demo collapsed to a broadcast join:\n$p")
    assert(p.contains("__salt"), s"expected the salt column in the join keys:\n$p")
  }

  test("q59: the eval shingle set is broadcast — the corpus is never shuffled by shingle") {
    val df = graft.SparkEntry.queries("q59_decontaminate")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"expected the eval side broadcast:\n$p")
  }

  test("q58: repetition metrics are a pure scan — no shuffle except the final sort") {
    val df = graft.SparkEntry.queries("q58_repetition")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("word_shingle_hashes"), s"expected native distinct-count exprs:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"q58 must not aggregate:\n$p")
  }

  test("q62: the curation pipeline dedups the corpus once; remaining shuffles are small-side") {
    val df = graft.SparkEntry.queries("q62_curate_full")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // AQE prints Final + Initial plan copies — audit the final tree only
    val finalPlan = p.split("== Initial Plan ==").head
    // the gated survivors are checkpointed, so the main plan must NOT
    // contain the dedup-by-text exchange at all — if it does, a branch
    // is re-deriving the dedup instead of reading the materialized frame
    assert(!finalPlan.contains("hashpartitioning(text"),
      s"a branch re-runs the corpus dedup:\n$finalPlan")
    val shuffles = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // allowed: the two SMALL-side distincts (eval shingles, contaminated
    // ids — both broadcast back) and the shard-partitioned packing window
    assert(shuffles <= 3, s"curation pipeline grew extra shuffles ($shuffles):\n$finalPlan")
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"eval-shingle/weights joins must broadcast:\n$finalPlan")
  }

  test("q66: the df model is broadcast back — the corpus is never self-joined") {
    val df = graft.SparkEntry.queries("q66_df_profile")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"expected the vocabulary df model broadcast:\n$p")
  }

  test("q73: chunking is a map-side generate — no exchange except the final sort") {
    val df = graft.SparkEntry.queries("q73_chunk")(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString()
    // AQE prints final + initial plans; audit only the final section
    val p = full.split("== Initial Plan ==")(0)
    val exchanges = p.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the final sort exchange, got $exchanges:\n$p")
    assert(p.contains("Generate"), s"expected the sequence generate:\n$p")
  }

  test("q1: aggregation keeps whole-stage codegen coverage") {
    // codegen'd stages carry the `*(n)` prefix in the simple plan string
    val p = plan("q1_agg")
    assert(p.contains("*("), s"expected codegen stage markers:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("q89: the correlated scalar subquery decorrelates into aggregate + join") {
    // per-row subquery execution would keep a (Lateral)Subquery node in
    // the final plan; decorrelation rewrites it to one grouped aggregate
    // joined back on the correlation key — the single-shuffle plan.
    val p = plan("q89_scalar_subquery")
    assert(!p.contains("Subquery"), s"expected no per-row subquery node:\n$p")
    assert(p.contains("HashAggregate") &&
      (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("ShuffledHashJoin")),
      s"expected decorrelated aggregate + join:\n$p")
  }

  test("q82: corpus statistics are broadcast, tf/dl stay map-side, top-k is TakeOrderedAndProject") {
    val p = plan("q82_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the one-row corpus-stats frame broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q81: span dedup shuffles only on the span window and the doc reassembly") {
    val df = graft.SparkEntry.queries("q81_span_dedup")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    val exchanges = p.split("\n").count(_.contains("Exchange"))
    // window-by-span + groupBy-doc + final orderBy — nothing else
    assert(exchanges <= 3, s"expected ≤3 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"span dedup must not join:\n$p")
  }

  test("q85: sufficient statistics aggregate in one shuffle, no second pass") {
    val df = graft.SparkEntry.queries("q85_corr")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    val exchanges = p.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected partial-agg shuffle + sort only, got $exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("q86: shard positions come from a partitioned window, not a global sort") {
    val df = graft.SparkEntry.queries("q86_shuffle")(spark, dir)
    df.collect()
    val opt = df.queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"expected every window partitioned by shard:\n$opt")
  }

  test("q108: blocking join is a signature equijoin — never a cartesian product") {
    // q108's registered form checkpoints the pair set before its
    // presentation sort (so the sort's range sampling can't re-execute
    // the join) — the join therefore lives in the UNORDERED builder's
    // plan, not the registered query's post-checkpoint tail
    val df = Entity.entityPairsUnordered(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"entity blocking must not degrade to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a sig-keyed equijoin:\n$p")
  }

  test("q268: semdedup candidates come from the cell-id equijoin — never a corpus self-cross") {
    // the SemDedup scale shape: the only corpus-vs-corpus contact is
    // the cell-keyed shuffle join (cluster-local candidates); the sole
    // legitimate nested-loop is the C×dim codebook broadcast onto the
    // assignment scan
    val p = plan("q268_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"semdedup must never enumerate all pairs:\n$p")
    assert(p.contains("SortMergeJoin [cid") || p.contains("ShuffledHashJoin [cid")
      || p.contains("BroadcastHashJoin [cid"),
      s"expected the candidate join keyed on cid:\n$p")
  }

  test("q77/q269: sketch aggregates build per-partition partials — the only exchange is the single-partition merge, never a token-keyed shuffle") {
    for (q <- Seq("q77_frequent_tokens", "q269_space_saving")) {
      val p = plan(q)
      // the global udaf plans partial ObjectHashAggregates per input
      // partition and ONE SinglePartition exchange to the merge — a
      // token-keyed hashpartitioning exchange would mean the summary
      // machinery degraded to the full groupBy it exists to avoid
      // (the top-20 presentation AFTER the explode may sort/limit)
      assert(p.contains("ObjectHashAggregate"), s"$q: expected udaf aggregate:\n$p")
      assert(!p.contains("hashpartitioning(w"),
        s"$q must never shuffle keyed on the token:\n$p")
    }
  }

  test("q111: the eval side is broadcast — the corpus is never shuffled for scoring") {
    val df = graft.SparkEntry.queries("q111_semantic_decontam")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastExchange"), s"expected broadcast eval frame:\n$p")
    val exchanges = p.split("\n").count(l => l.contains("Exchange") && !l.contains("Broadcast"))
    // per-vector aggregate + final sort — the corpus shuffles at most twice
    assert(exchanges <= 2, s"expected ≤2 non-broadcast exchanges, got $exchanges:\n$p")
  }

  test("q112: the model applies map-side — one doc aggregate, no join") {
    val df = graft.SparkEntry.queries("q112_quality_model")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"quality scoring must not join:\n$p")
    val exchanges = p.split("\n").count(_.contains("Exchange"))
    // (doc_id, w) + doc_id phases of the exact-distinct aggregate + the
    // final sort — COUNT(DISTINCT) is inherently two-shuffle
    assert(exchanges <= 3, s"expected ≤3 exchanges, got $exchanges:\n$p")
  }

  test("q122: ONE range exchange, reused — pid assignment cannot diverge between branches") {
    // the distributed prefix sum reads the range-partitioned deltas twice
    // (offsets + running sum). Correctness requires both branches to see
    // the SAME partition boundaries, i.e. the range exchange must execute
    // once and be reused — two independent samplings could disagree.
    val df = graft.SparkEntry.queries("q122_sweepline")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    // the delta frame's range exchange keys on (ts_us, delta) — distinct
    // from the final day sort — and must execute once + be reused
    val ranges = p.split("\n").count(l =>
      l.contains("Exchange rangepartitioning(ts_us") && !l.contains("ReusedExchange"))
    assert(ranges == 1, s"expected exactly one executed delta range exchange, got $ranges:\n$p")
    assert(p.split("\n").exists(l =>
      l.contains("ReusedExchange") && l.contains("rangepartitioning(ts_us")),
      s"expected the offsets branch to reuse the delta range exchange:\n$p")
    assert(p.contains("BroadcastExchange"), s"offsets must broadcast back:\n$p")
  }

  test("q125: the rank filter compiles to a window group limit (map-side top-k per stratum)") {
    val p = plan("q125_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pre-pruning before the stratum exchange:\n$p")
  }

  test("q124: weighted sampling is a scan + TakeOrderedAndProject — no global sort") {
    val p = plan("q124_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"no sort exchange allowed:\n$p")
  }

  test("q128: percentile bounds broadcast back — the fact side is never window-sorted") {
    val p = plan("q128_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the bounds frame broadcast onto the fact scan:\n$p")
    assert(!p.contains("Window"), s"no per-group window sort allowed:\n$p")
  }

  test("q126: prefix-filtered candidates come from an equijoin — never a quadratic join") {
    // q126 exists to re-derive q40's exact pair set WITHOUT the all-pairs
    // shape: candidates must collide through the rare-token-prefix
    // equijoin. A cartesian/nested-loop anywhere means the filter
    // degenerated to the baseline it replaces.
    val p = plan("q126_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"prefix filtering must not go quadratic:\n$p")
    // any hash/merge EQUIjoin qualifies — at sf0.001 AQE broadcasts every
    // side, at scale the same plan shuffles on the token key
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the prefix-token equijoin:\n$p")
  }

  test("q135: containment candidates come from the posting equijoin — never quadratic") {
    val p = plan("q135_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"containment join must not go quadratic:\n$p")
  }

  test("q136: the budget cumsum is distributed — offsets broadcast, no global sort window") {
    // the logical Window must keep pid in its partitionSpec (the q47
    // empty-partitionSpec scale-killer applies verbatim); the ≤parts-row
    // offset frame is the only unpartitioned window allowed
    val df = graft.SparkEntry.queries("q136_token_budget")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastExchange"), s"offsets must broadcast back:\n$p")
    val logical = df.queryExecution.optimizedPlan
    val windows = logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    val dataMassWindows = windows.filterNot(_.partitionSpec.isEmpty)
    assert(dataMassWindows.nonEmpty, s"expected the pid-partitioned running sum:\n$logical")
  }

  test("q137: per-column profile branches — each scan pruned to ONE column, no Expand") {
    // r16 shape: the ×12 multi-distinct Expand is gone; each of the 11
    // union branches reads exactly its own parquet column (column
    // pruning per scan) into a value-keyed partial-distinct aggregate
    // (an interleaved A/B measured ~3.4× at sf0.1 with identical rows)
    val p = plan("q137_profile").split("== Initial Plan ==")(0)
    assert(!p.contains("Expand"), s"the multi-distinct Expand must be gone:\n$p")
    val scanLines = p.split("\n").filter(_.contains("FileScan parquet"))
    assert(scanLines.length == 11, s"expected 11 per-column scans, got ${scanLines.length}:\n$p")
    // every scan's ReadSchema carries exactly one column (no comma)
    scanLines.foreach { l =>
      val rs = l.substring(l.indexOf("ReadSchema:"))
      assert(!rs.contains(","), s"scan must be pruned to one column: $l")
    }
  }

  test("q129: PMI top-k is a TakeOrderedAndProject over count aggregates") {
    val p = plan("q129_pmi")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected the scalar masses broadcast:\n$p")
  }

  test("q140: tf-idf pairs collide through the bigram posting equijoin — never quadratic") {
    // the dot-product self-join must key on the bigram (df-capped
    // postings), same bound as q126/q135: Σ_{df≤cap} df² ≤ cap·Σdf.
    // A cartesian/nested-loop means the df cap stopped reaching the join.
    val p = plan("q140_tfidf_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"tf-idf pair join must not go quadratic:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the bigram posting equijoin:\n$p")
  }

  test("q104/q105: the tiny model frames broadcast; the corpus joins at most by token stats") {
    for (name <- Seq("q104_bigram_lm", "q105_dsir_weights")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
      assert(p.contains("BroadcastExchange"),
        s"$name: expected the vocabulary/weights frame broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$name: no cartesian allowed:\n$p")
    }
  }

  test("q144: the ECDF cumsum is distributed — pid-partitioned window, offsets broadcast") {
    // same contract as q122/q136: the corpus-sized running counts must
    // ride a pid-partitioned window; only the ≤parts-row offset frame
    // may use an unpartitioned one
    val df = graft.SparkEntry.queries("q144_ks_drift")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastExchange"), s"offsets must broadcast back:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"expected the pid-partitioned running counts:\n${df.queryExecution.optimizedPlan}")
  }

  test("q148: the rank-band join is a bucket equijoin — never quadratic") {
    // SNM's whole point is comparing only window neighbors; a cartesian
    // or nested-loop means the bucket key stopped reaching the join.
    // q148 reads a checkpointed artifact, so the audit runs on the lazy
    // frame behind it
    val df = Dedup.q148SnmFrame(spark, dir, w = 10, parts = 32)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"rank-band join must not go quadratic:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the bucket equijoin:\n$p")
  }

  test("q164b: the SNM-blocked jaro-winkler band join is a bucket equijoin") {
    // the composition exists to REPLACE q164's all-pairs theta join;
    // a nested-loop here would mean the bucket key fell out of the join
    val p = plan("q164b_snm_jw")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"band join must not go quadratic:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the bucket equijoin:\n$p")
  }

  test("q221: the phash band join is an equijoin — payload bytes stay out of the shuffle") {
    val p = plan("q221_media_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"band join must not go quadratic:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the (band, bkey) equijoin:\n$p")
    // the checkpointed hash frame carries (media_id, phash) only — a
    // payload column reaching the join would shuffle the media bytes
    assert(!p.contains("payload"),
      s"payload must not appear downstream of the codec lane:\n$p")
  }

  test("q150: centroids broadcast onto the exploded scan — no quadratic join") {
    val p = plan("q150_centroid_purity")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the (labels x dims) centroid frame broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"no quadratic join allowed:\n$p")
  }

  test("q158: mode pre-prunes map-side via WindowGroupLimit") {
    val p = plan("q158_mode")
    assert(p.contains("WindowGroupLimit"),
      s"expected map-side top-1 pruning before the group exchange:\n$p")
  }

  test("q160: the bloom probe filters rows BEFORE the join") {
    val p = plan("q160_bloom_join")
    // the native predicate must sit in a Filter on the probe side (it
    // cannot push into parquet, but it must precede the exchange/join)
    assert(p.contains("bloom_might_contain"),
      s"expected the bloom runtime filter in the plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"expected an exact join after the bloom:\n$p")
  }

  test("q161: apriori prune broadcasts the frequent set; the pair join is an equijoin") {
    val p = plan("q161_assoc_rules")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the frequent-item set broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay a basket-key equijoin:\n$p")
  }

  test("q166: both fused lists are TakeOrderedAndProject top-k, never a global sort") {
    val p = plan("q166_rrf")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operators:\n$p")
  }

  test("q176: the next-purchase window is user-partitioned") {
    val df = graft.SparkEntry.queries("q176_abandonment")(spark, dir)
    df.collect()
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"expected only user-partitioned windows:\n${df.queryExecution.optimizedPlan}")
  }

  for (name <- Seq("q153_quantile_norm", "q156_weighted_pctl",
      "q163_rfm", "q172_mann_whitney", "q178_vocab_coverage")) {
    test(s"$name: corpus windows stay pid/source-partitioned, offsets broadcast") {
      // the q122/q136/q144 contract: corpus-sized running sums must ride
      // a partitioned window; only the ≤parts-row offset frame (and, for
      // q153, nothing else) may be unpartitioned
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
      assert(p.contains("BroadcastExchange"), s"$name: offsets must broadcast:\n$p")
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      assert(windows.exists(_.partitionSpec.nonEmpty),
        s"$name: expected a partitioned corpus window:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("q194: mid-ranks ride the distributed pid prefix — offsets broadcast") {
    // same contract as q172 (whose machinery q194's AUC reuses): the
    // per-score rank window is pid-partitioned; only the ≤parts offset
    // frame is global
    val df = graft.SparkEntry.queries("q194_auc")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastExchange"), s"offsets must broadcast:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"expected the pid-partitioned rank window:\n${df.queryExecution.optimizedPlan}")
  }

  test("q197: SQ8 codes come from the native expression; the query frame broadcasts") {
    val df = graft.SparkEntry.queries("q197_ann_sq8_fullrerank")(spark, dir)
    val logical = df.queryExecution.optimizedPlan.toString()
    assert(logical.contains("sq8_encode") && logical.contains("sq8_cos"),
      s"expected the native SQ8 expressions:\n$logical")
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the tiny query frame must broadcast:\n$p")
  }

  test("q198: the interval join is a bucket equijoin — never a theta nested loop") {
    // r16: the pair table is session-memoized (checkpointed) and shared
    // with q203/q215, so the registered plan reads an ExistingRDD — the
    // join shape is audited on the uncached builder (the pre-checkpoint
    // audit pattern)
    val df = Timeseries.intervalOverlapPairsUncached(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"overlap join must collide through hour buckets:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the bucket equijoin:\n$p")
  }

  test("q199: the balance fold shuffles once on user_id — per-user windows only") {
    val df = graft.SparkEntry.queries("q199_clamped_balance")(spark, dir)
    df.collect()
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // the fold is an aggregate, not a window: any window that does appear
    // must be keyed (none expected at all)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"no global window may appear in the balance fold:\n${df.queryExecution.optimizedPlan}")
  }

  test("q214: the skew top-10 is a TakeOrderedAndProject, never a global sort") {
    val p = plan("q214_skew_report")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals frame must broadcast:\n$p")
  }

  test("q200: per-doc top-5 pre-prunes map-side via WindowGroupLimit") {
    val p = plan("q200_topk_keywords")
    assert(p.contains("WindowGroupLimit"),
      s"expected map-side rank pruning before the doc exchange:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the 1-row corpus count must broadcast:\n$p")
  }

  test("q230: every window is keyed (gram-hash / doc_id) and no join is a nested loop") {
    val df = graft.SparkEntry.queries("q230_substr_dedup")(spark, dir)
    df.collect()
    // q230 checkpoints its seed rows, so the dup-count window is
    // audited on the lazy seed builder and the island windows on q230
    val seeds = Dedup.substrSeeds(
      graft.sources.Tables.load(spark, dir, "documents"), Dedup.SubstrL)
    def windowsOf(d: org.apache.spark.sql.DataFrame) = d.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windowsOf(seeds).nonEmpty && windowsOf(df).nonEmpty,
      "expected the dup-count and island windows")
    assert((windowsOf(seeds) ++ windowsOf(df)).forall(_.partitionSpec.nonEmpty),
      s"q230 must never run a global window:\n${seeds.queryExecution.optimizedPlan}\n" +
        s"${df.queryExecution.optimizedPlan}")
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q230 joins must all be equijoins:\n$p")
  }

  test("q230: the reassembly posexplode only sees seed-bearing docs (semi-join below the explode)") {
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val df = graft.SparkEntry.queries("q230_substr_dedup")(spark, dir)
    val rebuilds = df.queryExecution.optimizedPlan.collect {
      case g @ Generate(_: PosExplode, _, _, _, _, _) => g }
    assert(rebuilds.nonEmpty, "expected the token-reassembly posexplode")
    rebuilds.foreach { g =>
      val semis = g.child.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semis.nonEmpty,
        s"the reassembly explode must be fed by the touched-doc semi-join, " +
          s"not the whole corpus:\n${g.treeString}")
    }
  }

  test("q250: every per-round frame rides a broadcast (piece map, totals, " +
    "n_pieces) — no cartesian, no corpus-keyed shuffle inside the EM loop") {
    val p = plan("q250_unigram_train")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row frames must broadcast, never cartesian:\n$p")
  }

  test("q251: the trained segmenter broadcasts onto the corpus words") {
    val p = plan("q251_unigram_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the segmenter side to broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the word join must not shuffle the corpus:\n$p")
  }

  test("q233: the trained vocabulary broadcasts onto the corpus words") {
    val p = plan("q233_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the vocab side to broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the word join must not shuffle the corpus:\n$p")
  }

  test("q234: one source-keyed aggregate; the pooled row broadcasts") {
    val p = plan("q234_fairness")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the pooled 1-row frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian against corpus-sized frames:\n$p")
  }

  test("q235: the duel join is a user-keyed equijoin, never a cross join") {
    val df = graft.SparkEntry.queries("q235_bradley_terry")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the per-user type pairing must be an equijoin:\n$p")
  }

  test("q236: the per-round aggregate is map-side partial — one row crosses the wire") {
    // the round aggregates live inside the loop; audit the final
    // moment aggregate, whose plan shape is identical: HashAggregate
    // partials over the checkpointed scan, a single-row exchange, no
    // corpus-keyed shuffle and no explode
    val df = graft.SparkEntry.queries("q236_pca_power")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Generate"), // posexplode would shuffle n*64 rows
      s"q236 must aggregate 64 columns map-side, not explode dimensions:\n$p")
  }

  test("q237: the calibration rank rides the pid prefix — offsets broadcast, " +
    "no global window") {
    val df = graft.SparkEntry.queries("q237_conformal")(spark, "/root/testdata/sf0.01")
    df.collect()
    val logical = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // every non-trivial window must be pid-partitioned; the offsets
    // window runs over ≤ |partitions| rows (the documented pattern)
    val corpusWindows = logical.filter(_.partitionSpec.isEmpty)
    assert(corpusWindows.forall(_.child.maxRows.exists(_ <= 64)) ||
      corpusWindows.isEmpty || logical.exists(_.partitionSpec.nonEmpty),
      s"calibration ranking must not run one global window over users")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"fit/qhat one-row frames must broadcast:\n$p")
  }

  test("q239: per-query top-k pre-prunes via WindowGroupLimit; query branches " +
    "reuse ONE checkpointed scan") {
    val p = plan("q239_hard_negatives")
    assert(p.contains("WindowGroupLimit"),
      s"expected map-side rank pruning for the per-query top-k:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the corpus-stats broadcast happens once, BEFORE the checkpoint
    // (q108 audit pattern): the registered plan's union branches must
    // all read the checkpointed frame, not re-scan parquet per query
    assert(!p.contains("FileScan parquet"),
      s"query branches must read the checkpointed scored frame:\n$p")
  }

  test("q242: the sketch lane's only exchange is the 64-register aggregate") {
    val df = graft.SparkEntry.queries("q242_hll_distinct")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // register max is a hash aggregate with map-side partials on idx;
    // the exact-distinct baseline is the one allowed distinct shuffle
    assert(p.contains("HashAggregate"), s"expected register-max aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q257: register build is map-side combined; the probe rides a broadcast") {
    val p = plan("q257_cms_estimate")
    // the d×W register aggregate must have partial (map-side) counts —
    // the no-distinct one-scan property the CMS exists for
    assert(p.contains("partial_count"),
      s"expected map-side partial counts on the register aggregate:\n$p")
    // the 2048-row register table broadcasts onto the top-k frame
    assert(p.contains("BroadcastHashJoin [i"),
      s"expected the register probe to be a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q258: tercile bounds broadcast back; no corpus-wide window (ntile) anywhere") {
    val df = graft.SparkEntry.queries("q258_ccnet_buckets")(spark, dir)
    // the classify step must be threshold-join shaped, not an ntile —
    // an ntile(3) per source funnels each source through one partition
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"q258 must classify via broadcast thresholds, not a window:\n${df.queryExecution.optimizedPlan}")
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin [source"),
      s"expected the per-source bounds to broadcast:\n$p")
  }

  test("q259: both trained artifacts ride broadcasts — the CT profile onto doc " +
    "grams, the segmenter onto corpus words") {
    val p = plan("q259_fertility_by_lang")
    assert(p.contains("BroadcastHashJoin [g"),
      s"expected the |langs|×K profile to broadcast onto doc grams:\n$p")
    assert(p.contains("BroadcastHashJoin [word"),
      s"expected the trained segmenter to broadcast onto corpus words:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q277: damerau candidates come from the signature equijoin — never all-pairs") {
    // same law as q108's: the double-wildcard blocking must reach the
    // executor as a sig-keyed equijoin; the quadratic self-join exists
    // only in the oracle twin
    // pre-checkpoint frame: the registered presentation sort reads the
    // checkpointed RDD, hiding the join (same split as q108's audit)
    val df = Entity.damerauPairsUnordered(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q277 blocking must not degrade to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin [sig") || p.contains("ShuffledHashJoin [sig")
      || p.contains("BroadcastHashJoin [sig"),
      s"expected the sig-keyed candidate equijoin:\n$p")
  }

  test("contamination pair GENERATOR: eval shingle set broadcasts onto the " +
    "corpus scan — the corpus is never on both sides of a join") {
    // r16: the pair table is session-memoized (checkpointed), so the
    // registered q278/q279 plans read it as an ExistingRDD — the
    // generator's own shape is audited here pre-checkpoint (the q277/
    // q108 pre-checkpoint audit pattern)
    val df = TextOps.contaminationPairs(spark,
      graft.sources.Tables.load(spark, dir, "documents"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs contact:\n$p")
    assert(p.contains("BroadcastHashJoin [g"),
      s"expected the eval shingle set to broadcast onto the corpus scan:\n$p")
  }

  test("contamination pruned corpus (q278/q279 shared builder): the gram/lens " +
    "base is semi-join-pruned to paired docs BEFORE any explode") {
    // r17: the pruned frame is eagerly checkpointed (four/six plan
    // branches read it — guide §2.4), so the registered plans read an
    // ExistingRDD; the prune's shape is audited here pre-checkpoint
    // (the contaminationPairs pre-checkpoint audit pattern)
    Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column, String)](
      (t => org.apache.spark.sql.functions.split(t, " "), "ws"),
      (t => org.apache.spark.sql.functions.translate(t, " ", ""), "cs")
    ).foreach { case (proj, as) =>
      val df = TextOps.contamPrunedDocs(spark, dir, proj, as)
      df.collect()
      val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
      assert(p.contains("LeftSemi"),
        s"expected the paired-docs semi-join prune in the $as builder:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"no all-pairs contact in the $as builder:\n$p")
    }
  }

  test("q278: no all-pairs contact; the pruned corpus is materialized ONCE " +
    "(every gram/lens branch reads the checkpoint, no per-branch corpus scan)") {
    val p = plan("q278_bleu_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs contact:\n$p")
    // r17 (guide §2.4): the registered plan must read the pruned corpus
    // as a checkpointed ExistingRDD and never re-scan the parquet —
    // stricter than the r16 LeftSemi assertion it replaces (the prune
    // itself is pinned on the builder above)
    val finalPlan = p.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Scan parquet"),
      s"q278's gram/lens branches must read the materialized pruned corpus, " +
        s"not re-scan the corpus per branch:\n$p")
  }

  test("q279: one tagged gram shuffle serves all three chrF orders; pruned " +
    "corpus materialized ONCE (no per-branch corpus scan)") {
    val p = plan("q279_chrf_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs contact:\n$p")
    val finalPlan = p.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Scan parquet"),
      s"q279's gram/lens branches must read the materialized pruned corpus, " +
        s"not re-scan the corpus per branch:\n$p")
    // the (doc, n, gram) counts shuffle exactly once for n = 1..3 —
    // a per-order shuffle would print three gram-keyed exchanges
    val gramExchanges = "hashpartitioning\\(doc_id#\\d+L?, tg#".r
      .findAllIn(finalPlan).size
    assert(gramExchanges <= 2,  // train + eval branches of the ONE gram agg
      s"expected the single tagged gram aggregate, got $gramExchanges gram exchanges:\n$p")
  }

  test("q280: the blocklist scan has NO join and no exchange except the presentation sort") {
    // the whole point of the automaton: the lexicon is compiled into
    // the expression, so the naive patterns×corpus join never exists
    val df = graft.SparkEntry.queries("q280_blocklist_hits")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    assert(logical.toString().contains("blocklist_hits"),
      s"expected the native automaton expression:\n$logical")
    val joins = logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"q280 must never join the lexicon:\n$logical")
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the presentation sort exchange:\n$p")
  }

  test("q286: the keeper is a hash-PARTITIONED window min over the 16-byte " +
    "digest — no join, no global window, one corpus scan") {
    val df = graft.SparkEntry.queries("q286_segment_dedup")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    // r17 re-pin, stricter than the r16 agg+join law it replaces: the
    // winner table grew with the corpus (broadcast-brittle; SMJ = two
    // more corpus exchanges past the threshold), so the keeper now
    // rides the SAME h-shuffle as a partitioned window and the join is
    // gone entirely
    val windows = logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"the keeper must be a hash-partitioned window min, never global:\n$logical")
    val joins = logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"q286 must not join at all:\n$logical")
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
  }

  test("q287: stupid backoff's model contacts are all equijoins; tiers never fork the scan") {
    val df = graft.SparkEntry.queries("q287_stupid_backoff")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    val joins = logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // the ONE allowed condition-less join is the broadcast of the
    // 1-row token-total scalar (a global, groupless aggregate)
    def isScalar(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.isDefined
    assert(joins.nonEmpty && joins.forall(j =>
      j.condition.isDefined || isScalar(j.right) || isScalar(j.left)),
      s"all model lookups must be equijoins (scalar totals aside):\n$logical")
    // the backoff is a per-row CASE over left-join nullability — the
    // eval stream must appear ONCE (no union of tier branches)
    val unions = logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty, s"tiers must not fork the eval scan:\n$logical")
  }

  private def scalarOrEqui(logical: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      tag: String): Unit = {
    val joins = logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    def isScalar(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.isDefined
    assert(joins.nonEmpty && joins.forall(j =>
      j.condition.isDefined || isScalar(j.right) || isScalar(j.left)),
      s"$tag: every join must be an equijoin (1-row scalar totals aside):\n$logical")
  }

  test("q290: gram builders are the native word_ngrams scan; every model contact " +
    "is an equijoin (1-row totals aside)") {
    val df = graft.SparkEntry.queries("q290_kneser_ney_4gram_pruned")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    assert(logical.toString().contains("word_ngrams"),
      s"expected the native gram expression:\n$logical")
    assert(!logical.toString().contains("zip_with"),
      s"interpreted gram lambda resurfaced:\n$logical")
    scalarOrEqui(logical, "q290")
  }

  test("q293: vocabulary mapping and model lookups are all equijoins; the eval " +
    "stream is never forked into tier branches") {
    val df = graft.SparkEntry.queries("q293_kn_heldout")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    scalarOrEqui(logical, "q293")
    val unions = logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty, s"tiers must not fork the eval scan:\n$logical")
  }

  test("q294: the median's windows are partition-local or bounded — never a " +
    "window over a data-sized frame") {
    // (the native word_windows/word_ngrams builders sit BELOW the
    // lane's eager localCheckpoints, so they are invisible in this
    // plan — the q290 audit and WordNgramsSpec pin them)
    val df = graft.SparkEntry.queries("q294_segment_quality_filter")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    // the distributed-prefix median: its per-partition cumulative window
    // partitions by pid; the only unpartitioned windows run over the
    // 32-row partition-offset frame (bounded by the partition count) —
    // assert every unpartitioned window sits above a pid AGGREGATE, so
    // its input is partition-count-sized, never segments-sized
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = logical.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val groupedBelow = w.collectFirst {
        case a: Aggregate if a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.mkString(",").contains("pid") => a
      }
      assert(groupedBelow.isDefined,
        s"unpartitioned window not over the bounded pid-offset frame:\n$w")
    }
    scalarOrEqui(logical, "q294")
  }

  test("q296: gram features are one fused native projection; selection is " +
    "TakeOrderedAndProject; model contacts are equijoins") {
    val p = plan("q296_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected map-side top-k, not a global sort:\n$p")
    val df = graft.SparkEntry.queries("q296_dsir_resample")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    assert(logical.toString().contains("word_ngrams"),
      s"expected the native gram expression:\n$logical")
    // exactly ONE gram explode in the registered plan — the scoring
    // pass; the bucket-statistics pass (raw + target via ONE
    // conditional-sum aggregate) sits behind the eager checkpoint and
    // is invisible here (the q294-audit convention). Pinned so a new
    // consumer can't silently re-fan the corpus a third time.
    val gens = logical.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.length == 1, s"expected 1 gram explode, got ${gens.length}:\n$logical")
    scalarOrEqui(logical, "q296")
  }

  test("q297: the EM rounds are chained aggregates over ONE materialized pair " +
    "frame — every join side is the 1-row params frame, no window, no recompute") {
    val df = graft.SparkEntry.queries("q297_fellegi_sunter")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation, Window => LWindow}
    def isScalar(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case a: Aggregate if a.groupingExpressions.isEmpty => a
        // round 1's params side is the literal init frame (1 row)
        case l: LocalRelation if l.data.length <= 1 => l
      }.isDefined
    val joins = logical.collect { case j: Join => j }
    assert(joins.nonEmpty && joins.forall(j => isScalar(j.left) || isScalar(j.right)),
      s"q297: every join must carry the 1-row params side:\n$logical")
    assert(logical.collect { case w: LWindow => w }.isEmpty)
    // the blocked pair join was materialized at build time: the plan's
    // leaves are the checkpointed RDD, never the customer scan
    assert(!logical.toString().contains("customer"),
      s"pair frame must be the checkpoint, not a re-derived join:\n$logical")
  }

  test("q298: all orders ride ONE tagged native scan over ONE corpus pass; " +
    "both folds fold through the md5-keyed aggregate — no join at all") {
    // r17 re-pin, stricter than the r16 equijoin law it replaces: the
    // train-side distinct + left join (a corpus-growing build side —
    // broadcast-brittle, SMJ past the threshold) collapsed into one
    // (h)-keyed aggregate carrying the eval count and train flag
    val df = graft.SparkEntry.queries("q298_novel_ngram_rate")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    val s = logical.toString()
    assert(s.contains("word_ngrams_upto"), s"expected the tagged scan:\n$s")
    assert(s.contains("md5"), s"expected md5 aggregate keys:\n$s")
    val joins = logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"q298 must not join — one fold-tagged aggregate:\n$logical")
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
  }
}
