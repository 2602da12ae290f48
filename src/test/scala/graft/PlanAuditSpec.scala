package graft

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md's load-bearing claims as assertions, so a regression in
  * plan shape fails CI instead of waiting for the next manual audit.
  * Plans are built against the sf0.001 testdata (plan SHAPE is what's
  * asserted; AQE may re-plan joins at runtime, which is fine — these
  * are the initial static plans).
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] =
    Registry.all.map { q =>
      q.name -> q.fn(spark, sfDir).queryExecution.executedPlan.toString
    }.toMap

  test("no query plans a cartesian product") {
    // the deliberate small-side cross joins (IVF centroids, corpus
    // totals) must all broadcast — BroadcastNestedLoop, never
    // CartesianProduct (which would be quadratic-shuffle at scale)
    val offenders = plans.filter(_._2.contains("CartesianProduct")).keys
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  /** The exchange `repartition(1)` plans: Sinks.exportSorted's, whose
    * one task must only ever sort a registry entry's final output. */
  private val singleRepartition = "Exchange SinglePartition, REPARTITION_BY_NUM"

  test("a single-partition repartition only feeds the final export sort") {
    // library operators return unordered frames and the registry entry
    // applies the order; the same exchange anywhere else funnels the
    // rest of the plan through one task
    val offenders = plans.filter { case (_, p) =>
      val lines = p.linesIterator.toIndexedSeq
      val root = if (lines.head.startsWith("AdaptiveSparkPlan")) 1 else 0
      val at = lines.indices.filter(lines(_).contains(singleRepartition))
      at.size > 1 || at.exists(i => i != root + 1 ||
        !lines(root).dropWhile(" +-".contains(_)).startsWith("Sort "))
    }.keys.toSeq.sorted
    assert(offenders.isEmpty,
      s"single-partition repartition below the top in: $offenders")
  }

  test("library miners plan no single-partition repartition") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Decontam, Dedup, Multimodal, Similarity}
    import graft.sources.{CacheScope, Tables}
    CacheScope.run {
      val docs = Tables.documents(spark, sfDir)
      val embs = Tables.embeddings(spark, sfDir)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val even = docs.filter(col("doc_id") % 2 === 0)
      val mh = Dedup.minhashPairs(docs)
      val knn = Similarity.knnGraph(embs)
      val miners = Seq(
        "minhashPairs" -> mh,
        "minhashPairsIncremental" -> Dedup.minhashPairsIncremental(odd, even),
        "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs),
        "simhashPairs" -> Dedup.simhashPairs(docs),
        "winnowPairs" -> Dedup.winnowPairs(docs),
        "containmentPairs" -> Dedup.containmentPairs(docs),
        "substringPairs" -> Dedup.substringPairs(docs),
        "clusters" -> Dedup.clusters(docs, mh),
        "overlapScreen" -> Decontam.overlapScreen(odd, even),
        "nearDupPairs" -> Similarity.nearDupPairs(embs),
        "knnGraph" -> knn,
        "nnDescentRound" -> Similarity.nnDescentRound(embs, knn),
        "dhashPairs" -> Multimodal.dhashPairs(
          Multimodal.dhashFixtures(spark, docs).toDF()),
        "audioFpPairs" -> Multimodal.audioFpPairs(
          Multimodal.envelopeFixtures(spark, docs)))
      val offenders = miners.collect { case (name, df)
        if df.queryExecution.executedPlan.toString
          .contains(singleRepartition) => name }
      assert(offenders.isEmpty, s"ordered miner output from: $offenders")
    }
  }

  test("no query falls back to an interpreted Python/UDF operator") {
    val bad = Seq("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
    val offenders = plans.filter { case (_, p) => bad.exists(p.contains) }.keys
    assert(offenders.isEmpty, s"python-eval operators in: $offenders")
  }

  test("rideshare enrichment joins broadcast (fact side never shuffles)") {
    Seq("t1_enrich_count", "t6b_urgent_by_nation", "t9_rollup").foreach { q =>
      assert(plans(q).contains("BroadcastHashJoin"),
        s"$q: expected broadcast dim joins\n${plans(q).take(800)}")
      assert(!plans(q).contains("SortMergeJoin"),
        s"$q: dim join degraded to a shuffle join")
    }
  }

  test("orderBy+limit compiles to distributed top-k, not a global sort") {
    Seq("t3c_top30_routes", "t7_pivot_routes").foreach { q =>
      assert(plans(q).contains("TakeOrderedAndProject"),
        s"$q: expected TakeOrderedAndProject\n${plans(q).take(800)}")
    }
  }

  test("window top-k caps groups before ranking (WindowGroupLimit)") {
    Seq("t3a_top5_nations_month", "sim_lsh_topk").foreach { q =>
      assert(plans(q).contains("WindowGroupLimit"),
        s"$q: expected WindowGroupLimit\n${plans(q).take(800)}")
    }
  }

  test("decontamination screen broadcasts the bench n-gram index") {
    assert(plans("decontam_hits").contains("BroadcastHashJoin"),
      plans("decontam_hits").take(800))
  }

  test("bm25: query terms broadcast against the postings index, no corpus-side broadcast") {
    // the probe side (distinct query unigrams) is the small side —
    // the scored postings index must STREAM through the join: a plan
    // broadcasting the corpus-sized index would OOM at deployment
    Seq("text_bm25_topk", "stream_bm25_screen").foreach { q =>
      assert(plans(q).contains("BroadcastHashJoin"),
        s"$q: expected the probe to broadcast\n${plans(q).take(800)}")
    }
  }

  test("bm25 top-k ranks through the bounded heap, not a window sort") {
    // the round-12 row_number ranking shuffled and sorted the whole
    // matched-pair frame per query; TopKAgg's map-side heaps carry
    // <= k rows per (query, partition). ObjectHashAggregate is the
    // TypedImperativeAggregate's physical operator.
    val p = plans("text_bm25_topk")
    assert(!p.contains("Window"), s"window rank survived:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the top_k heap aggregate:\n${p.take(800)}")
  }

  test("PQ family: compressed-domain scans, heap top-k, broadcast cell routing") {
    // flat ADC (sim_pq_topk): the LUT side broadcasts against the
    // code table and top-k runs through the heap aggregate — a window
    // sort over the n x nq score stream would be the scale-killer
    val flat = plans("sim_pq_topk")
    assert(flat.contains("ObjectHashAggregate"), flat.take(800))
    assert(!flat.contains("Window"),
      s"window rank in flat ADC:\n${flat.take(800)}")
    // encoding (sim_pq_codes) is per-row codebook-literal arithmetic:
    // no joins at all, only the output sort shuffles
    val codes = plans("sim_pq_codes")
    assert(!codes.contains("Join"), codes.take(800))
    assert("Exchange (\\w+)".r.findAllMatchIn(codes).map(_.group(1))
      .forall(_ == "rangepartitioning"), codes.take(800))
    // routed scoring (in-plan, loaded-artifact, and streaming twin):
    // the query side broadcasts into the inverted lists on the cell
    // key; ADC top-k through the heap; never a corpus-keyed shuffle
    Seq("sim_ivfpq_topk", "model_store_pq", "stream_pq_screen").foreach { q =>
      assert(plans(q).contains("BroadcastHashJoin"),
        s"$q: cell join must broadcast\n${plans(q).take(800)}")
      assert(plans(q).contains("ObjectHashAggregate"),
        s"$q: expected the top_k heap\n${plans(q).take(800)}")
      assert(!plans(q).contains("SortMergeJoin"),
        s"$q: cell join degraded to a shuffle join")
    }
  }

  test("sampling and rerank stay on bounded heaps, no corpus sort") {
    // A-ES sampling: one map + the global top_k heap — the only
    // exchanges are the single-partition final-merge and output sort;
    // a Window/Sort over the corpus would be the anti-pattern
    Seq("curation_weighted_sample", "stream_sample_screen").foreach { q =>
      assert(!plans(q).contains("Window"),
        s"$q: window sort in a heap sample\n${plans(q).take(800)}")
      assert(plans(q).contains("ObjectHashAggregate"),
        s"$q: expected the top_k heap\n${plans(q).take(800)}")
    }
    // MMR: candidate generation + per-query array walk — never a
    // corpus-keyed shuffle join
    assert(!plans("sim_mmr_rerank").contains("SortMergeJoin"),
      plans("sim_mmr_rerank").take(800))
    assert(plans("sim_mmr_rerank").contains("ObjectHashAggregate"),
      plans("sim_mmr_rerank").take(800))
  }

  test("count-min: sketch probes broadcast; stream shard is join-free") {
    // the estimate leg probes the <= depth*width-row sketch and the
    // exact gate as broadcasts — a sort-merge here would shuffle the
    // candidate fan-out on corpus lineage
    val hh = plans("profile_cm_heavy")
    assert(hh.contains("BroadcastHashJoin"), hh.take(800))
    assert(!hh.contains("SortMergeJoin"), hh.take(800))
    assert(hh.contains("TakeOrderedAndProject"), hh.take(800))
    // the streaming shard twin folds cells with no join at all
    assert(!plans("stream_cm_screen").contains("Join"),
      plans("stream_cm_screen").take(800))
  }

  test("retrieval metrics: metric-sized joins broadcast (no corpus-lineage sort-merge)") {
    // tn/matched are <= k rows per query by contract but share
    // lineage with the rankers — the hints in retrievalMetrics keep
    // them off SortMergeJoin (7 -> 4 exchanges when caught)
    Seq("eval_retrieval_metrics", "eval_ivfpq_metrics").foreach { q =>
      assert(!plans(q).contains("SortMergeJoin"),
        s"$q:\n${plans(q).take(800)}")
    }
  }

  test("round-13 closers: fertility join-free, split/health never sort-merge") {
    assert(!plans("text_bpe_fertility").contains("Join"),
      plans("text_bpe_fertility").take(800))
    Seq("pipeline_split_leakfree", "emb_health").foreach { q =>
      assert(!plans(q).contains("SortMergeJoin"),
        s"$q:\n${plans(q).take(800)}")
    }
  }

  test("histogram sketch: corpus never windowed; source cap ranks on the heap") {
    // the cumulative window may sort only the SKETCH (post-aggregate);
    // the corpus side contributes one hash aggregate, no Window before
    // the first Aggregate, and the quantile tail never sort-merges
    val hist = plans("profile_hist_quantiles")
    assert(!hist.contains("SortMergeJoin"), hist.take(800))
    // an aggregate sits BELOW the window (prints after it): the
    // window's input is the sketch, not the raw scan
    assert(hist.lastIndexOf("HashAggregate") > hist.indexOf("Window"),
      hist.take(800))
    // the per-source cap must rank through the bounded heap — no
    // Window node anywhere (the window row_number shape it replaces)
    val cap = plans("curation_source_cap")
    assert(cap.contains("top_k"), cap.take(800))
    assert(!cap.contains("Window"), cap.take(800))
    // the streaming twin's batch plan is one aggregate, join-free
    assert(!plans("stream_hist_screen").contains("Join"),
      plans("stream_hist_screen").take(800))
  }

  test("phrase scan is map-only top-k; quota screen is window-free") {
    // phraseTopK: the HOF occurrence count runs inside the scan
    // stage — no join, no Window, no full sort; the only reduction
    // is the distributed TakeOrderedAndProject heap
    val phrase = plans("text_phrase_topk")
    assert(phrase.contains("TakeOrderedAndProject"), phrase.take(800))
    assert(!phrase.contains("Join"), phrase.take(800))
    assert(!phrase.contains("Window"), phrase.take(800))
    // quotaScreen's batch twin: one groupByKey exchange into the
    // state function (batch execution lowers flatMapGroupsWithState
    // to MapGroups), never a row_number window over the corpus
    val quota = plans("stream_quota_screen")
    assert(quota.contains("MapGroups"), quota.take(800))
    assert(!quota.contains("Window"), quota.take(800))
    // the streaming perceptual screens' batch twins (image dHash and
    // audio envelope share ONE screen): block-key equi-join (broadcast
    // at this scale), codegen popcount verify, no window
    Seq("stream_dhash_screen", "stream_audiofp_screen").foreach { q =>
      val dhs = plans(q)
      assert(dhs.contains("BroadcastHashJoin"), s"$q\n" + dhs.take(800))
      assert(!dhs.contains("Window"), s"$q\n" + dhs.take(800))
    }
    // perceptual survivors: pair mine + clusters completion — never a
    // window, never a cartesian
    val sv = plans("mm_dhash_survivors")
    assert(!sv.contains("Window") && !sv.contains("Cartesian"),
      sv.take(800))
    // the source-overlap matrix aggregates the PAIR list (the
    // upstream miner reads text, the overlap join does not): the
    // source lookup scans project exactly (doc_id, source), and the
    // matrix is hash-aggregated, never windowed
    val ov = plans("dedup_source_overlap")
    assert(ov.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      ov.take(1200))
    assert(!ov.contains("Window"), ov.take(800))
  }

  test("codec fixture queries are map-only up to the output sort") {
    // pure-JVM codecs run per-row in mapPartitions: the ONLY exchange
    // each plan may carry is the deterministic output orderBy — and
    // the audio feature extractor's 1->nFrames fan-out stays inside
    // the same map-only shape
    Seq("mm_adpcm_roundtrip", "mm_g711_roundtrip",
        "mm_decode_g711_wav", "mm_audio_features").foreach { q =>
      val exchanges = "Exchange (\\w+)".r
        .findAllMatchIn(plans(q)).map(_.group(1)).toList
      assert(exchanges.forall(_ == "rangepartitioning"),
        s"$q: non-sort exchange in a map-only codec: $exchanges\n" +
          plans(q).take(800))
    }
  }

  test("url canonicalization is map-only; domain rollup shuffles stats only") {
    // urlProfile is codegen regex + array work per row — no join, no
    // agg; the only exchange is the output orderBy
    val up = plans("web_url_profile")
    val upx = "Exchange (\\w+)".r.findAllMatchIn(up).map(_.group(1)).toList
    assert(upx.forall(_ == "rangepartitioning"), s"$upx\n${up.take(800)}")
    // domainStats: partial/final HashAggregate around hash exchanges —
    // what crosses the wire is (domain, stats), never the URLs
    val ds = plans("web_domain_stats")
    assert(ds.contains("HashAggregate"), ds.take(800))
    assert(!ds.contains("Window") && !ds.contains("Cartesian"),
      ds.take(800))
    // url dedup is the exact-dedup shape on the canonical key: one
    // min-aggregate + one equi-join, never a window
    val ud = plans("web_url_dedup")
    assert(!ud.contains("Window") && !ud.contains("Cartesian"),
      ud.take(800))
    // per-domain quota rides the bounded-heap TopKAgg, not row_number
    val dc = plans("web_domain_cap")
    assert(!dc.contains("Window"), dc.take(800))
    assert(dc.contains("ObjectHashAggregate"), dc.take(800))
  }

  test("curriculum: the only window runs over the bounded score histogram") {
    // stage boundaries come from the per-score histogram (<= 1e6 rows
    // whatever the corpus) and broadcast back as ONE row; the corpus
    // itself is never window-partitioned or row_number'd
    val cc = plans("curation_curriculum")
    assert(cc.contains("Window"), cc.take(800))
    assert(cc.contains("BroadcastNestedLoopJoin"), cc.take(800))
    assert(!cc.contains("row_number"), cc.take(800))
    // the window's child is the (score, cnt) aggregate, not the scan:
    // a HashAggregate must appear between scan and window
    assert(cc.contains("HashAggregate"), cc.take(800))
  }

  test("scene cuts: one bounded per-video window, no join") {
    // the lag window partitions by doc_id — each partition is ONE
    // video's sampled frames, bounded by the sampling rate; the only
    // exchanges are the window's hash partitioning and the output sort
    val sc = plans("mm_scene_cuts")
    assert(sc.contains("Window"), sc.take(800))
    assert(!sc.contains("Join") && !sc.contains("Cartesian"), sc.take(800))
    val scx = "Exchange (\\w+)".r.findAllMatchIn(sc).map(_.group(1)).toList
    assert(scx.forall(x => x == "rangepartitioning" || x == "hashpartitioning"),
      s"$scx\n${sc.take(800)}")
  }

  test("audio fp pairs mine through the image miner's block-join shape") {
    // decode+hash is partition-local; the mine is the dHash block
    // equi-join (broadcast at this scale) + codegen popcount verify —
    // no window, no cartesian
    val afp = plans("mm_audio_fp_pairs")
    assert(afp.contains("BroadcastHashJoin") || afp.contains("SortMergeJoin"),
      afp.take(800))
    assert(!afp.contains("Window") && !afp.contains("Cartesian"),
      afp.take(800))
  }

  test("profile_merge scans the corpus once (mergeable shard stats)") {
    // each shard profiles itself in ONE pass; the merge folds the
    // shard-count-sized stats frame — a second corpus scan would
    // defeat the incremental contract
    val scans = "Scan parquet".r.findAllIn(plans("profile_merge")).length
    assert(scans == 1,
      s"expected 1 corpus scan, found $scans\n${plans("profile_merge").take(800)}")
  }

  test("layout codes are single-exchange plans (codegen arithmetic + output sort only)") {
    Seq("layout_zorder", "layout_zorder_nd", "layout_hilbert",
        "layout_hilbert_nd").foreach { q =>
      val p = plans(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$q: layout coding must not join\n${p.take(800)}")
      // exactly the output-sort exchange, nothing else shuffles
      assert("Exchange".r.findAllIn(p).length == 1,
        s"$q: expected exactly one exchange\n${p.take(800)}")
      // (codegen-ability of HilbertIndex is exercised end-to-end in
      // ZorderSpec's collect; AQE plan strings don't print codegen
      // spans before execution, so it is not asserted here)
    }
  }

  test("loaded-artifact scoring drops the training subtrees") {
    // model_store_langid reads the trained model from parquet: its
    // plan must contain NO aggregation over the seed slice beyond the
    // scorer's own per-doc groupBy — text_langid_nb (which trains
    // in-plan) carries strictly more exchanges
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).length
    assert(exchanges(plans("model_store_langid")) <
      exchanges(plans("text_langid_nb")),
      "loading the model should simplify the plan vs in-plan training")
    // same law for the metric leg: evaluating the loaded artifact
    // must drop the training subtrees the in-plan variant carries
    assert(exchanges(plans("eval_langid_prf_loaded")) <
      exchanges(plans("eval_langid_prf")),
      "loaded-artifact eval should simplify the plan vs in-plan training")
    // the IVF-PQ fusion twins (round 14): the loaded variant probes
    // STORED inverted-list/code-table parquet, so its plan carries
    // strictly fewer exchanges AND fewer nested-loop legs (the flat
    // encode leg is gone) than the in-plan twin — on top of the
    // eager training jobs, which never appear in plan text at all
    assert(exchanges(plans("sim_rrf_topk_loaded")) <
      exchanges(plans("sim_rrf_topk")),
      "loaded fusion should carry fewer exchanges than the in-plan twin")
    assert(
      "BroadcastNestedLoop".r.findAllIn(plans("sim_rrf_topk_loaded")).length <
        "BroadcastNestedLoop".r.findAllIn(plans("sim_rrf_topk")).length,
      "loaded fusion should drop the flat encode leg")
    // the two-level router twins (round-15 verdict ask #2): the
    // loaded twin's superiority at sf0.1 is STRUCTURAL, not a wall-
    // clock gap (both Lloyd levels are bounded model-sized loops that
    // cost <1 s at this SF, so the bench twins tie) — pin the
    // structure: the loaded plan probes the STORED inverted-list
    // parquet instead of re-deriving the corpus fine assignment, so
    // it scans the artifact path, carries ZERO corpus-assignment
    // windows (its only windows are the query-sized routing/ranking
    // ones), and strictly fewer exchanges than the in-plan twin
    assert(exchanges(plans("sim_ivf2_topk_loaded")) <
      exchanges(plans("sim_ivf2_topk")),
      "loaded two-level router should carry fewer exchanges")
    assert(plans("sim_ivf2_topk_loaded").contains("ivf2_"),
      "loaded two-level router should scan the stored artifact")
    def windows(p: String): Int = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows(plans("sim_ivf2_topk_loaded")) <
      windows(plans("sim_ivf2_topk")),
      "loaded router must drop the corpus fine-assignment window")
    // the upsert probes the STORED slice artifact (router + lists) —
    // nothing corpus-sided retrains or re-assigns; the only extra
    // plan surface vs the loaded twin is the arrival-batch window
    assert(plans("sim_ivf2_upsert").contains("ivf2u_"),
      "upsert should scan the stored slice-trained artifact")
  }

  test("containment screen is one equi-join; index-build window only; clean anti-joins broadcast") {
    // the ingest screen: one stream-static join on the fingerprint +
    // the output sort. Since round 16 the INDEX BUILD side carries
    // exactly one window (winnowFpIndex's df-cap — one windowed count
    // over the single build pass, the substringAnchorIndex
    // convention); that cost is paid once when the index is built and
    // persisted, never per micro-batch, so the per-arrival path stays
    // window-free. The law pins: at most that ONE window, and no
    // shuffle join anywhere.
    val scr = plans("stream_containment_screen")
    val nWindows = "(?<![a-zA-Z])Window".r.findAllIn(scr).length
    assert(nWindows <= 1, scr.take(800))
    assert(!scr.contains("SortMergeJoin"), scr.take(800))
    // the removal half: the drop set is threshold-vanishing and must
    // reach the corpus as a BROADCAST anti-join (a shuffled anti-join
    // would move the whole corpus)
    assert(plans("dedup_containment_clean")
      .contains("BroadcastHashJoin") &&
      plans("dedup_containment_clean").contains("LeftAnti"),
      plans("dedup_containment_clean").take(800))
  }

  test("SQ8 serving: broadcast queries, no shuffle join, no window") {
    // the compressed-domain exact scan: bounded query codes broadcast
    // into the corpus-code stream, top-k through the partial-heap
    // aggregate — a SortMergeJoin (corpus shuffle) or a rank window
    // (full pair materialization) would break the 100 TB shape
    Seq("sim_sq_topk", "stream_sq_screen").foreach { q =>
      assert(!plans(q).contains("SortMergeJoin"), s"$q\n${plans(q).take(800)}")
      assert(plans(q).contains("BroadcastHashJoin") ||
        plans(q).contains("BroadcastNestedLoopJoin"),
        s"$q\n${plans(q).take(800)}")
    }
    assert(!plans("sim_sq_topk").contains("Window"),
      plans("sim_sq_topk").take(800))
  }

  test("filtered top-k joins on the attribute, not a post-filter") {
    // label equality must be a hash-join KEY (the probe rejects
    // non-matching labels before the 64-wide dot product); the plan
    // shows it inside the BroadcastHashJoin's equi-key list
    val p = plans("sim_filtered_topk")
    assert("""BroadcastHashJoin \[[^\]]*q_label""".r
      .findFirstIn(p).isDefined, p.take(1200))
    // the streaming twin: label rides the stream-static join the same
    // way (a post-filter would score cross-label bucket-mates first)
    val ps = plans("stream_filtered_screen")
    assert("""BroadcastHashJoin \[[^\]]*label""".r
      .findFirstIn(ps).isDefined, ps.take(1200))
  }

  test("weak-label attach is a projection, never a corpus self-join") {
    // quality_nb_score's labels come from QualityFilters.gopherPass in
    // the same projection that carries text — joining the metric frame
    // back on doc_id would sort-merge the corpus against itself
    assert(!plans("quality_nb_score").contains("SortMergeJoin"),
      plans("quality_nb_score").take(1200))
  }

  test("model-quality screen is join-free and window-free (streaming-legal)") {
    // predictRowwise collapses the NB model to driver literals: the
    // scoring plan must contain NO join and NO window — the property
    // that makes the identical plan legal on an unbounded stream
    val p = plans("stream_quality_nb_screen")
    assert(!p.contains("Join"), p.take(1200))
    assert(!p.contains("Window "), p.take(1200))
  }

  test("index-balance profile joins its cell-sized frames by broadcast") {
    // the only windows allowed are the per-row assignment's (bounded
    // by the centroid count per vec); the zero-fill left join must
    // build on the <= nCells counts frame, never sort-merge
    val p = plans("eval_ivf_balance")
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("refine stage fetches candidates by broadcast id-join, never a shuffle") {
    // two-stage serving: the float fetch of the ADC shortlist must be
    // a BROADCAST hash join on neighbor_id (the corpus streams once,
    // id-pruned) — a SortMergeJoin would shuffle the float corpus the
    // compressed scan exists to avoid
    val p = plans("sim_ivfpq_refined")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("pack's row-level running sum never serializes a whole source") {
    // the two-level prefix sum: any window ORDERED BY doc_id (i.e.
    // running over the full row stream) must partition by source AND
    // block — a source-only spec would funnel each source's whole doc
    // stream through one task (the round-6 'weak' shape)
    val p = plans("pipeline_pack")
    val rowWins = """Window \[[^\n]*?\], \[([^\]]*?)\], \[doc_id"""
      .r.findAllMatchIn(p).map(_.group(1)).toList
    assert(rowWins.nonEmpty, s"no doc_id-ordered window:\n${p.take(800)}")
    rowWins.foreach { spec =>
      assert(spec.contains("source") && spec.contains("block"),
        s"doc_id-ordered window not blocked: [$spec]")
    }
  }

  test("semanticDedup persists the cells frame (consumed three times)") {
    assert(plans("dedup_semantic").contains("InMemoryTableScan"),
      plans("dedup_semantic").take(800))
  }

  test("quality filters are map-only up to the output sort") {
    // C4/Gopher filtering is per-row scalar work: the ONLY exchange in
    // the plan must be the deterministic output orderBy's range
    // partitioning — a hash exchange would mean the filter grew a
    // shuffle (aggregation/join) it doesn't need
    Seq("quality_gopher_rules", "quality_c4_clean",
        "stream_quality_screen", "text_script_profile",
        "text_blocklist_hits").foreach { q =>
      val exchanges = "Exchange (\\w+)".r
        .findAllMatchIn(plans(q)).map(_.group(1)).toList
      assert(exchanges.forall(_ == "rangepartitioning"),
        s"$q: non-sort exchange in map-only filter: $exchanges\n" +
          plans(q).take(800))
    }
  }

  test("perplexity model frames broadcast into the raw stream") {
    // the raw corpus must stream through BroadcastHashJoins against
    // the target-derived model (pair + context) — a sort-merge here
    // would shuffle the whole corpus ON THE MODEL KEYS, an extra
    // corpus-sized exchange beyond the one (doc_id) rollup
    Seq("quality_perplexity", "stream_perplexity_screen").foreach { q =>
      val p = plans(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(800)}")
      assert(!p.contains("SortMergeJoin"),
        s"$q: model join sort-merged:\n${p.take(800)}")
    }
  }

  test("mixture/unimax windows partition only k-row source frames") {
    // the unimax waterfill sorts the per-source frame in one
    // partition — legal ONLY because that frame is k rows; the
    // corpus-sized side must never appear under the same window.
    // Guard: the plan's single-partition windows sit above an
    // aggregation on source (k rows), and no window sits directly on
    // a parquet scan.
    val p = plans("curation_unimax_alloc")
    assert(p.contains("Window"), p.take(400))
    assert(p.contains("HashAggregate"), p.take(400))
  }

  test("semantic decontam: eval side broadcasts, corpus never shuffle-joins; " +
    "knn graph windows only bucket-bounded candidates") {
    // the 100 TB shape: the eval/probe side is broadcast into the
    // bucket equi-join (a SortMergeJoin would shuffle the corpus);
    // removal anti-joins the audit-sized hit list by broadcast
    Seq("decontam_semantic_hits", "decontam_semantic_clean",
        "stream_decontam_semantic").foreach { q =>
      assert(!plans(q).contains("SortMergeJoin"),
        s"$q\n${plans(q).take(800)}")
      assert(plans(q).contains("BroadcastHashJoin"),
        s"$q\n${plans(q).take(800)}")
    }
    // the kNN graph ranks through the bounded heap (round 17 — the
    // window shape shuffled the full candidate stream; TopKAgg's
    // partial aggregation carries <= k rows per vector instead):
    // assert no Window AND that the bucket join didn't degrade to a
    // corpus sort-merge
    assert(!plans("sim_knn_graph").contains("Window"),
      plans("sim_knn_graph").take(800))
    assert(!plans("sim_knn_graph").contains("SortMergeJoin"),
      plans("sim_knn_graph").take(800))
    // the recall gate's truth leg is the documented broadcast NLJ
    // (slice build side); nothing may plan a cartesian product
    assert(plans("eval_neardup_recall").contains("BroadcastNestedLoopJoin")
      || plans("eval_neardup_recall").contains("BroadcastHashJoin"),
      plans("eval_neardup_recall").take(800))
  }

  test("kNN-graph SERVING plans probe the stored edge list: no bucket " +
    "mining, no rank window (the loaded-twin law)") {
    // propagation from the stored graph: label equi-join + two
    // bounded aggregates — a Window anywhere means the serving path
    // regressed into rebuilding the ranking
    assert(!plans("sim_labelprop_loaded").contains("Window"),
      plans("sim_labelprop_loaded").take(800))
    // the loaded refined graph is a parquet scan + export sort only
    assert(!plans("sim_nndescent_loaded").contains("Window"),
      plans("sim_nndescent_loaded").take(800))
    // outliers from the stored graph: the ONLY window is the
    // fixed-grid histogram cumulative sum — its input must be the
    // (≤ 200·k-cell) bin aggregate, never the corpus (the
    // histQuantiles discipline: an aggregate sits BELOW the window)
    val ol = plans("emb_outliers_loaded")
    assert(ol.contains("Window"), ol.take(800))
    assert(ol.lastIndexOf("HashAggregate") > ol.indexOf("Window"),
      ol.take(1200))
    // the loaded classify screen (round 18): the labeled index is a
    // parquet scan — no corpus-side bucket mining (sketch16's
    // hyperplane dots appear once, on the ARRIVAL side only; the
    // in-plan twin computes them on both sides), no Window (the vote
    // is a scalar array pass over the bounded heap), index join
    // broadcast, and the scan itself present
    val kc = plans("stream_knn_classify_loaded")
    assert(!kc.contains("Window"), kc.take(800))
    assert(!kc.contains("SortMergeJoin"), kc.take(800))
    assert(kc.contains("Scan parquet"), kc.take(800))
  }

  test("calibrated miners (round 18): window-free, cached corpus " +
    "pass, no payload sort-merge in the verify chain") {
    // the registered plan is the MINER at the already-collected
    // threshold (the calibration leg ran at plan-build time and
    // released its caches) — what must hold at scale:
    val calibrated = Seq("dedup_ngram_calibrated",
      "dedup_ngram_cal_clustered", "dedup_simhash_calibrated",
      "dedup_simhash_cal_clustered")
    for (q <- calibrated) {
      val p = plans(q)
      // no corpus window anywhere — candidate generation is
      // equi-joins + the single-partition export sort
      assert(!p.contains("Window"), s"$q:\n${p.take(800)}")
      // the word-set / signature frame is cached (ONE corpus pass
      // feeds both sides of the block self-join)
      assert(p.contains("InMemoryTableScan"), s"$q:\n${p.take(800)}")
      // the id-pair re-shape law: nothing sort-merge-joins here at
      // gate scale — the round-18 cliff was an SMJ buffering array
      // payloads per block group; the pair-formation and attach
      // joins all broadcast (and at scale may SMJ on IDS, which the
      // id-only join keys make safe — this pin catches the payload
      // shape returning at the size where broadcast should hold)
      assert(!p.contains("SortMergeJoin"), s"$q:\n${p.take(800)}")
    }
    // the jaccard arms carry the threshold as a literal (collected
    // calibration), never a per-row subquery re-computation
    assert(!plans("dedup_ngram_calibrated").contains("Subquery"),
      plans("dedup_ngram_calibrated").take(800))
  }

  test("column pruning reaches the scan on a projection-only query") {
    // t1_enrich_count aggregates a count over an enrichment join —
    // the orders scan must not read the full table width
    val plan = plans("t1_enrich_count")
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"no ReadSchema in plan:\n${plan.take(800)}")
    assert(schemas.exists(_.split(",").length <= 2),
      s"expected a pruned scan (<=2 columns), got: $schemas")
  }
}
