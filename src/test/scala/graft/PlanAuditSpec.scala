package graft

/** Regression guards for the physical-plan properties docs/SCALE.md
  * claims — a plan change that silently loses pushdown, broadcasts, or
  * the single-exchange window shape should fail CI, not a 100 TB run. */
class PlanAuditSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan pruning: filter and projection reach the parquet scan") {
    val p = plan(Queries.scanPrune(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"missing pushed filter in:\n$p")
    assert(!p.contains("l_comment")) // no stray columns read
  }

  test("dimension joins broadcast (no shuffle join on small sides)") {
    val p = plan(Queries.joinAgg(spark, dir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected broadcast dim joins, got:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("sessionize: exactly one exchange (window + agg reuse partitioning)") {
    val p = plan(Queries.sessionize(spark, dir))
    // hashpartitioning exchanges only; AQE may add AQEShuffleRead wrappers
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, found $exchanges:\n$p")
  }

  test("as-of windowAgg compiles to an equi-join (no nested-loop)") {
    val p = plan(Queries.asofWindowAgg(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join de-thetafication lost:\n$p")
  }

  test("gated dedup paths plan as equi-joins (no all-pairs nested loop)") {
    for ((name, df) <- Seq(
        "emb_neardup" -> Queries.embNearDup(spark, dir),
        "dedup_ngram_jaccard" -> Queries.dedupNgramJaccard(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name degraded to an all-pairs join:\n$p")
    }
  }

  test("native array_dot appears in vector plans (not HOF aggregate)") {
    for ((name, df) <- Seq(
        "emb_neardup" -> Queries.embNearDup(spark, dir),
        "sim_brute_topk" -> Queries.simBruteTopK(spark, dir))) {
      val p = plan(df)
      assert(p.contains("arraydotproduct") || p.contains("ArrayDotProduct"),
        s"$name: native dot product missing from:\n$p")
    }
  }

  test("a6 bimodality runs grouped (flatMapGroups), no driver-collected cut") {
    val p = plan(Queries.bimodality(spark, dir))
    // the grouped form shows an object MapGroups (the cut fit); the old
    // driver form would show only scan + Filter(literal cut) and — the
    // real tell — a LocalTableScan of collected values
    assert(p.contains("FlatMapGroups") || p.toLowerCase.contains("mapgroups"),
      s"a6 lost the grouped mapGroups shape:\n$p")
    assert(!p.contains("LocalTableScan"), s"a6 plan embeds collected values:\n$p")
    // the cut table joins back broadcast, never sort-merge (it is one row
    // per group)
    assert(!p.contains("SortMergeJoin"),
      s"a6 cut join degraded to sort-merge:\n$p")
  }

  test("m9 plans contain no keyless (single-partition) windows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((name, df) <- Seq(
        "m9_multisession" -> Queries.multiSessionPipeline(spark, dir),
        "m9_gaze_pipeline" -> Queries.gazePipeline(spark, dir),
        "qc_session_report" -> Queries.qcSessionReport(spark, dir))) {
      val keyless = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(keyless.isEmpty,
        s"$name: ${keyless.length} keyless window(s) — single-partition stage")
    }
  }

  test("markers_filtered: one kernel task — no keyless window, no exchange, ≤ 2 jobs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.exchange.Exchange
    val base = java.nio.file.Files.createTempDirectory("markers_filtered").toString
    GoldenSession.markers(spark).write.parquet(s"$base/markers")
    GoldenSession.clock(spark).write.parquet(s"$base/clock")
    val stage = pipeline.VedbPipeline.stages(spark.read.parquet(s"$base/markers"),
        spark.read.parquet(s"$base/clock"), GoldenSession.pupils(spark),
        epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
      .find(_.name == "markers_filtered").get
    val df = stage.run(spark, Map.empty)
    val keyless = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(keyless.isEmpty, s"${keyless.length} keyless window(s)")
    val exec = df.queryExecution.executedPlan
    assert(exec.collect { case e: Exchange => e }.isEmpty &&
      !exec.toString.contains("Exchange"), s"exchange in:\n$exec")
    // job budget: the clock collect and the write
    val jobs = jobsOf("markers-filtered-budget") {
      stage.run(spark, Map.empty).write.parquet(s"$base/out")
    }
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs")
    assert(spark.read.parquet(s"$base/out").count() > 0)
  }

  /** Jobs `body` starts, counted by a listener on its own job group. */
  def jobsOf(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("pipeline_vedb: no stage has a keyless window; calibration ≤ 3 jobs, error ≤ 2") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val base = java.nio.file.Files.createTempDirectory("vedb_stages").toString
    GoldenSession.markers(spark).write.parquet(s"$base/markers")
    GoldenSession.clock(spark).write.parquet(s"$base/clock")
    GoldenSession.pupils(spark).write.parquet(s"$base/pupils")
    val stages = pipeline.VedbPipeline.stages(spark.read.parquet(s"$base/markers"),
      spark.read.parquet(s"$base/clock"), spark.read.parquet(s"$base/pupils"),
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    assert(stages.map(_.name) == Seq("markers_filtered", "markers_cal",
      "markers_val", "calibration", "gaze", "error"))
    val budget = Map("calibration" -> 3, "error" -> 2)
    for (st <- stages) {
      val in = st.deps.map(d => d -> spark.read.parquet(s"$base/$d")).toMap
      val df = st.run(spark, in)
      val keyless = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(keyless.isEmpty, s"${st.name}: ${keyless.length} keyless window(s)")
      val jobs = jobsOf(s"vedb-${st.name}") {
        st.run(spark, in).write.parquet(s"$base/${st.name}")
      }
      budget.get(st.name).foreach(b => assert(jobs >= 1 && jobs <= b, s"${st.name}: $jobs jobs"))
      graft.CacheRegistry.releaseAll()
    }
    assert(spark.read.parquet(s"$base/error").count() == 1)
  }

  test("pipeline_vedb cold run: one Spark job fewer per dependency edge than schema inference") {
    import java.nio.file.{Files, Paths}
    import pipeline.Pipeline
    val base = Files.createTempDirectory("vedb_edges").toString
    GoldenSession.markers(spark).write.parquet(s"$base/markers")
    GoldenSession.clock(spark).write.parquet(s"$base/clock")
    GoldenSession.pupils(spark).write.parquet(s"$base/pupils")
    val stages = pipeline.VedbPipeline.stages(spark.read.parquet(s"$base/markers"),
      spark.read.parquet(s"$base/clock"), spark.read.parquet(s"$base/pupils"),
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    val edges = stages.map(_.deps.length).sum
    assert(edges == 7)
    def dropSchemas(root: String): Unit =
      Files.list(Paths.get(root)).toArray.foreach(d =>
        Files.deleteIfExists(d.asInstanceOf[java.nio.file.Path].resolve("_SCHEMA")))
    // cold: every dependency was computed earlier in the same run
    var cold: Map[String, Pipeline.StageResult] = Map.empty
    val coldJobs = jobsOf("vedb-cold") {
      cold = Pipeline.run(spark, s"$base/cold", stages)
    }
    assert(cold.values.forall(_.state == Pipeline.Computed), cold.toString)
    // one stage per run: every dependency is memoized from an earlier run,
    // read through its sidecar (kept) or by inference (sidecars dropped)
    def stepwise(root: String, keepSidecars: Boolean): Int =
      stages.indices.map { k =>
        if (!keepSidecars && k > 0) dropSchemas(root)
        jobsOf(s"vedb-step-$keepSidecars-$k") {
          val r = Pipeline.run(spark, root, stages.take(k + 1))
          assert(r(stages(k).name).state == Pipeline.Computed, r.toString)
          assert(stages.take(k).forall(st => r(st.name).state == Pipeline.Memoized))
        }
      }.sum
    val memoJobs = stepwise(s"$base/memo", keepSidecars = true)
    val inferJobs = stepwise(s"$base/infer", keepSidecars = false)
    assert(memoJobs == coldJobs, s"memoized deps: $memoJobs jobs, cold run $coldJobs")
    assert(inferJobs - coldJobs == edges,
      s"inference: $inferJobs jobs, sidecars: $coldJobs, edges: $edges")
    for (st <- stages) {
      val want = spark.read.parquet(cold(st.name).path).collect().map(_.toString).sorted
      for (root <- Seq("memo", "infer"))
        assert(spark.read.parquet(s"$base/$root/${Paths.get(cold(st.name).path).getFileName}")
          .collect().map(_.toString).sorted.sameElements(want), s"$root ${st.name}")
    }
    graft.CacheRegistry.releaseAll()
  }

  test("m9 model table broadcasts at bench session counts (size-gated hint)") {
    val p = plan(Queries.multiSessionPipeline(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"model-table fan-out join lost its broadcast at bench scale:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("native tps_eval appears in gaze-apply plans (not HOF aggregate)") {
    val p = plan(Queries.tpsApply(spark, dir)).toLowerCase
    assert(p.contains("tpseval"), s"native TPS eval missing from:\n$p")
    assert(!p.contains("aggregate(sequence"), "TPS apply degraded to HOF")
  }

  test("native shingle/minhash kernels appear in the dedup plans") {
    val p = plan(Queries.dedupMinhashLsh(spark, dir)).toLowerCase
    assert(p.contains("shinglehash60") && p.contains("minhashsig"),
      s"native text-hash kernels missing from:\n$p")
  }

  test("bm25 top-k plans as TakeOrdered (no global sort shuffle)") {
    val p = plan(Queries.bm25Topk(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 limit lost the TakeOrdered shape:\n$p")
    // the 1-row stats table must broadcast, not shuffle
    assert(!p.contains("SortMergeJoin"), s"bm25 stats join degraded:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("ann_ivf_pq: native sq-dist kernel, zero nested-loop joins") {
    val p = plan(Queries.annIvfPqTopk(spark, dir))
    assert(p.toLowerCase.contains("arraysqdist"),
      s"native sq-dist kernel missing from IVF-PQ assignment:\n$p")
    // the coarse assignment folds the centroids as literals (sorted-struct
    // ranking, no centroid join) and both the candidate and re-rank joins
    // are equi-joins — a regression back to the vectors × centroids cross
    // join must fail here
    val df = Queries.annIvfPqTopk(spark, dir)
    val bnlj = df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.length
    assert(bnlj == 0, s"IVF-PQ grew $bnlj nested-loop join site(s):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ degraded to a cartesian candidate join:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("ann_ivf_pq_hier: native sq-dist kernel, zero nested-loop joins") {
    val df = Queries.annIvfPqHierTopk(spark, dir)
    val p = plan(df)
    assert(p.toLowerCase.contains("arraysqdist"),
      s"native sq-dist kernel missing from hier assignment:\n$p")
    val bnlj = df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.length
    assert(bnlj == 0, s"hier IVF-PQ grew $bnlj nested-loop join site(s):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"hier IVF-PQ degraded to a cartesian candidate join:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("served ANN search prunes the cell-partitioned index scan (DPP)") {
    // the AnnIndexIO scale claim: a search probing `nprobe` of the cells
    // reads ONLY those cells' files. The probe side broadcasts, so
    // Spark's dynamic partition pruning plants a runtime IN-subquery
    // filter on the index scan's `cid` partition column — this is the
    // file-listing-level pruning, and it must not silently vanish
    // (e.g. via a join reorder that stops broadcasting the probe side)
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("ann_dpp").toString
    assert(operators.AnnIndexIO.buildAuto(emb, "vec_id", "embedding", idx,
      nCells = Queries.annIvfPqCells))
    val df = operators.AnnIndexIO.searchAuto(spark, idx, emb, "vec_id",
      "embedding", col("v_id") < 10, k = 3, nprobe = 2)
    val p = plan(df)
    assert(p.contains("dynamicpruningexpression"),
      s"index scan lost dynamic partition pruning on cid:\n$p")
    assert(df.count() > 0)
    graft.CacheRegistry.releaseAll()
  }

  test("decontaminate: benchmark set broadcast, no corpus shuffle join") {
    val p = plan(Queries.textDecontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark hash set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontaminate degraded to all-pairs:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("modal kernels: only the pre-render id repartition shuffles") {
    // render → decode → detect is one mapPartitions lineage per media
    // arm, fed by ONE tiny id exchange that buys kernel parallelism when
    // the corpus arrives as few files (the graft.Par rationale); any
    // exchange beyond one per arm means a kernel stage lost scan-locality
    for ((name, arms, df) <- Seq(
        ("cv_pupil", 1, Queries.cvPupil(spark, dir)),
        ("cv_checkerboard", 1, Queries.cvCheckerboard(spark, dir)),
        ("cv_circles", 2, Queries.cvCircles(spark, dir)), // normal + inverted
        ("cv_video_pupils", 1, Queries.cvVideoPupils(spark, dir)),
        ("cv_video_mp4", 1, Queries.cvVideoMp4(spark, dir)),
        ("mm_mp4_meta", 1, Queries.mmMp4Meta(spark, dir)),
        ("cv_video_mp4_frag", 1, Queries.cvVideoMp4Frag(spark, dir)),
        ("mm_mp4_frag_meta", 1, Queries.mmMp4FragMeta(spark, dir)),
        ("mm_video_meta", 1, Queries.mmVideoMeta(spark, dir)),
        ("audio_features", 1, Queries.audioFeatures(spark, dir)))) {
      val p = plan(df)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= arms,
        s"$name: $exchanges exchanges (> $arms arms) in a row-local kernel pipeline:\n$p")
      assert(p.contains("MapPartitions"), s"$name lost its kernel stage:\n$p")
    }
  }

  test("curation pipeline: benchmark broadcast survives the composition") {
    val p = plan(Queries.curationPipeline(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"composed decontamination lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"composition degraded to all-pairs:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("semDedup: intra-cell pair join is an equi-join on cid (no all-pairs)") {
    for (df <- Seq(Queries.semDedup(spark, dir),
                   Queries.semDedupHier(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"semDedup degraded to an all-pairs join:\n$p")
    }
    graft.CacheRegistry.releaseAll()
  }

  test("centroid assignment: plan size is O(1) in nCells (single literal)") {
    // the r5/r6 quantizer ceiling: per-centroid expression trees grew the
    // plan as nCells·dim nodes, capping nCells ≈ 10². The matrix-literal
    // form must keep the expression TREE constant-size as cells grow —
    // only the literal's data payload (not walked by codegen) scales.
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def treeSize(nCells: Int): Long = {
      val cents = Array.tabulate(nCells)(i => Array.tabulate(8)(j => i + j * 0.5))
      val df = Seq((1L, Seq.fill(8)(0.1))).toDF("v_id", "vn")
        .select(col("v_id"), expr("transform(vn, x -> cast(x as double))").as("vn"))
        .withColumn("cells", VectorOps.cellRanks(col("vn"), cents))
      df.queryExecution.analyzed.map(_.expressions.map(_.collect { case e => e }.size).sum).sum
    }
    val (small, large) = (treeSize(16), treeSize(1024))
    assert(large <= small + 8,
      s"cellRanks expression tree grew with nCells: 16 cells → $small nodes, " +
        s"1024 cells → $large nodes")
  }

  test("j3 triple as-of: two keyed union-sort passes, no nested-loop") {
    val p = plan(Queries.binocularTriple(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triple as-of lost the union-sort shape:\n$p")
  }

  test("manual epochs: the frame-range disjunction reaches the scan filter") {
    // applyEpochs' range filter sits directly over the projection (O4);
    // with a real frame column it is pushdown-eligible — here it must at
    // least plan as a data Filter, never a post-shuffle one
    val p = plan(Queries.manualEpochsQuery(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"epoch tagging should be scan-local (union of filters):\n$p")
  }

  test("winnow/substring gram pass evaluates ONCE (pitfall 1b pinned)") {
    // a non-outer explode would let InferFiltersFromGenerate +
    // predicate pushdown substitute the whole gram/selection chain into
    // a scan Filter — md5 would then appear in several plan positions
    // and re-evaluate with no CSE (measured 22× on winnow selection)
    // r12: the gram pass is the native GramHash60Array kernel — the
    // pitfall's signature is the KERNEL appearing in several plan
    // positions (a pushed-down generate-filter re-evaluates the whole
    // md5 pass with no CSE), so the pin counts kernel sites now
    val docs = Tables.documents(spark, dir)
    val winnowed = operators.TextOps
      .winnowedFingerprints(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert("gramhash60array".r.findAllIn(winnowed).length == 1,
      s"gram kernel duplicated in winnow plan:\n${winnowed.take(3000)}")
    // the spans plan persists the gram table and reads it twice, so the
    // kernel prints once per cached consumer — the pitfall's actual
    // signature is the gram chain substituted into a FILTER node
    val spans = operators.TextOps
      .substringDedupSpans(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString.toLowerCase
    graft.CacheRegistry.releaseAll()
    val kernelFilters = spans.split("\n")
      .filter(l => l.contains("filter ") && l.contains("gramhash60array"))
    assert(kernelFilters.isEmpty,
      s"gram kernel substituted into a Filter:\n${kernelFilters.mkString("\n").take(2000)}")
  }

  test("dsir serving: zero corpus shuffles — model rides a 1-row broadcast") {
    // the O(B) model is the whole point: the fitted prob table collects
    // (B rows, data-independent) and serves as a one-row broadcast map
    // with a row-local fold — the scoring plan must contain NO exchange
    // and NO shuffle join of the corpus. (Catalyst folds the
    // constant-key equi join to a 1-row BroadcastNestedLoopJoin —
    // that IS the intended free-broadcast shape.)
    val p = plan(Queries.sampleDsir(spark, dir))
    assert(p.contains("Broadcast"), s"dsir model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") &&
           !p.contains("Exchange hashpartitioning"),
      s"dsir scoring shuffled the corpus:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("lm score: no all-pairs plan; vocab stats ride a broadcast") {
    // the count-table joins shuffle on the bigram key (unavoidable and
    // skew-handled by AQE); what must never appear is a cartesian plan
    // or a shuffled 1-row vocab
    val p = plan(Queries.textLmScore(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"lm scoring degraded to all-pairs:\n$p")
    assert(p.contains("Broadcast"),
      s"1-row vocab stats not broadcast:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("web curation: row-local normalize, one exchange for the domain cap") {
    val p = plan(Queries.webCurationPipeline(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"web curation grew beyond the domain window + gate join:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"web curation degraded to all-pairs:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("image near-dup: banded equi-join, no all-pairs plan") {
    val p = plan(Queries.mmImageNearDup(spark, dir))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"image near-dup degraded to all-pairs:\n$p")
    // the bucket cap's window partitions on the SAME key the candidate
    // join shuffles on — capping must not add its own exchange beyond
    // the band key (plus the two fixture/id repartitions)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      s"banded candidate join missing:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("pretrain pipeline: composition stays bounded, no all-pairs") {
    val p = plan(Queries.pretrainPipeline(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"pretrain pipeline degraded to all-pairs:\n$p")
    // dedup window + chunk explode + the two-pass rank machinery: the
    // rank offsets must ride a broadcast, never a shuffled join
    assert(p.contains("BroadcastHashJoin") || p.contains("Broadcast"),
      s"rank offsets not broadcast:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("frequent n-grams: literal count-min prefilter, one exact-pass exchange") {
    val p = plan(Queries.textFrequentNgrams(spark, dir))
    // the prefilter is a plain row-local Filter over literal counter
    // maps — no join of any kind in the plan
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"count-min prefilter grew a join:\n$p")
    // one gram-keyed exchange: the exact pass over the CANDIDATES, with
    // map-side partial aggregation (the sketch pass's own counter
    // aggregate is the only other exchange, bounded by depth·width)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected the single exact-pass exchange, found $exchanges:\n$p")
    assert(p.contains("partial_count"),
      s"exact pass lost map-side combine:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("cadence gate per-key: the triple stays a keyed equi-join plan") {
    val p = plan(Queries.binocularTripleCadencePerKey(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"per-key-gated triple degraded to all-pairs:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("pca: one-pass moment fit, apply is narrow native-dot compute") {
    // fit = exactly one aggregate job over one scan (the d+d² moment
    // pass); apply must add NO exchange and ride the native dot kernel
    val planted = spark.range(64).select(
      org.apache.spark.sql.functions.col("id").as("vec_id"),
      Queries.pcaPlanted(org.apache.spark.sql.functions.col("id")).as("pv"))
    val m = operators.VectorOps.pcaFit(planted, "pv", k = 2)
    val p = plan(operators.VectorOps.pcaApply(planted, "pv", m))
    assert(!p.contains("Exchange"),
      s"pca apply should be a narrow projection:\n$p")
    assert(p.toLowerCase.contains("arraydotproduct"),
      s"pca apply lost the native dot kernel:\n$p")
  }

  test("containment: candidate equi-join only, no all-pairs plan") {
    val p = plan(Queries.dedupContainment(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment degraded to an all-pairs join:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("domain filter: pattern side broadcasts; corpus never nested-loops") {
    val p = plan(Queries.webDomainFilter(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"pattern join should broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"domain filter degraded:\n$p")
  }

  test("pagerank: Pregel iteration joins stay equi (no all-pairs plan)") {
    val p = plan(Queries.webPagerank(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pagerank iteration degraded to an all-pairs join:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("rank caps compile to WindowGroupLimit (map-side partial top-k)") {
    // The hot-bucket rank caps (`row_number() <= cap` over the bucket key)
    // are the 100-TB safety valve of the ENTIRE banded-dedup tier: Spark's
    // InferWindowGroupLimit rewrites them into a WindowGroupLimit pair
    // (Partial before the exchange, Final after), so a mega-hot
    // shingle/band bucket ships at most cap×partitions rows instead of
    // sorting the whole bucket in one task. That rewrite is version- and
    // shape-sensitive (e.g. referencing the rank column downstream blocks
    // it) — pin it per family so a refactor that silently loses it fails
    // here, not on a cluster.
    for ((name, df) <- Seq(
        "dedup_minhash_lsh (band cap)"   -> Queries.dedupMinhashLsh(spark, dir),
        "dedup_ngram_jaccard (band cap)" -> Queries.dedupNgramJaccard(spark, dir),
        "dedup_containment (shingle-bucket cap)" -> Queries.dedupContainment(spark, dir),
        "dedup_simhash_pairs (band cap)" -> Queries.dedupSimhashPairs(spark, dir),
        "mm_image_neardup (band cap)"    -> Queries.mmImageNearDup(spark, dir),
        "emb_neardup (LSH index-side cap)" -> Queries.embNearDup(spark, dir),
        "text_top_ngrams_per_source (rank-k head)" ->
          Queries.textTopNgramsPerSource(spark, dir))) {
      val p = plan(df)
      val partials = p.split("\n").count(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial"))
      assert(partials >= 1,
        s"$name: rank cap lost its map-side WindowGroupLimit rewrite — " +
          s"a hot bucket would single-task sort at scale:\n$p")
    }
    graft.CacheRegistry.releaseAll()
  }

  test("planted-media render keeps explicit parallelism under AQE") {
    // AQE sizes partition coalescing by shuffled BYTES, so a keys-only
    // pre-render exchange collapses to ONE partition and the heavy
    // per-row render/decode kernels downstream serialize onto one task
    // (measured 10 s vs 0.8 s on the blink-video fixture at sf0.1). The
    // fixtures pin an explicit partition count, which AQE must respect.
    for ((name, fx) <- Seq(
        "plantMedia" -> Queries.fixtureFrames("cv_keypoints_pipeline"),
        "plantMediaKeyed" -> Queries.fixtureFrames("mm_image_neardup"),
        "plantAudioMedia" -> Queries.fixtureFrames("audio_features"))) {
      val parts = fx(spark, dir).rdd.getNumPartitions
      assert(parts >= spark.sparkContext.defaultParallelism,
        s"$name: render lineage collapsed to $parts partition(s) — " +
          "AQE re-coalesced the keys-only exchange")
    }
    // the arity FLOOR: defaultParallelism can be tiny on a cold cluster
    // under dynamic allocation (and the explicit count is AQE-exempt),
    // so byKey must never pin below the session's shuffle-partition
    // sizing intent
    val df = spark.range(10).toDF("id")
    assert(graft.Par.arity(df) >= math.max(
      spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions),
      "Par.arity lost its cold-cluster floor")
  }

  test("web ingest: delay admission is one host window + a broadcast dim") {
    val p = plan(Queries.webIngestPipeline(spark, dir))
    // the crawl-delay side is a 50-row host table — it must ride a
    // broadcast, never a shuffle join against the request corpus
    assert(p.contains("BroadcastHashJoin"),
      s"crawl-delay dim join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ingest lineage degraded to an all-pairs join:\n$p")
    // the admission rank is ONE row_number window over the host key
    // alone; the robots-parse lineage adds its own windows but every
    // one must stay KEYED (a keyless window = a single-task corpus sort)
    val admission = "Window \\[row_number\\(\\)[^\\n]*\\], \\[host#\\d+\\]".r
      .findAllIn(p).length
    assert(admission == 1,
      s"expected exactly 1 host-keyed admission rank window, got $admission:\n$p")
    assert(!"Window \\[[^\\n]*\\], \\[\\]".r.findFirstIn(p).isDefined,
      s"a KEYLESS window appeared in the ingest lineage:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("r12 lineages: no all-pairs joins, cdc stays keyless-window-free") {
    // ann_recall_audit composes four tier searches + two brute-force
    // truth chains — the truth side is a deliberate broadcast(10-query)
    // join; nothing may degrade to a cartesian product
    val pa = plan(Queries.annRecallAudit(spark, dir))
    assert(!pa.contains("CartesianProduct"),
      s"recall audit grew a cartesian join:\n$pa")
    graft.CacheRegistry.releaseAll()
    // cdc chunking is fully row-local: the only exchange is the
    // kernel-feed repartition, and there is no Window at all
    val pc = plan(Queries.textCdcChunks(spark, dir))
    assert(!"\\bWindow\\b".r.findFirstIn(pc).isDefined &&
      !pc.contains("Join"),
      s"cdc chunking lost its row-local shape:\n$pc")
    val exchanges = "Exchange".r.findAllIn(pc).length
    assert(exchanges == 1, s"cdc expected 1 kernel-feed exchange, got $exchanges:\n$pc")
  }

  test("bloom decontaminate probes with the native might_contain (codegen)") {
    val p = plan(Queries.textDecontaminateBloom(spark, dir))
    assert(p.contains("might_contain"),
      s"bloom prefilter lost the native BloomFilterMightContain:\n$p")
    assert(!p.contains("UDF") && !p.contains("BatchEval"),
      s"bloom prefilter fell back to a UDF (breaks the codegen span):\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("r13 lineages: html extract row-local; inc probe banded, cap keyed") {
    // html extraction pipelines inside the scan: regex/HOF projections
    // only — no Join, no Window, no Exchange anywhere in the plan
    val ph = plan(Queries.webHtmlExtract(spark, dir))
    assert(!ph.contains("Exchange") && !ph.contains("Join") &&
      "\\bWindow\\b".r.findFirstIn(ph).isEmpty,
      s"html extract lost its row-local zero-exchange shape:\n$ph")
    // frontier discovery shares the shape: the only non-Project node is
    // the per-anchor Generate (posexplode)
    val pl = plan(Queries.webLinkGraph(spark, dir))
    assert(!pl.contains("Exchange") && !pl.contains("Join") &&
      "\\bWindow\\b".r.findFirstIn(pl).isEmpty && pl.contains("Generate"),
      s"link extraction lost its row-local zero-exchange shape:\n$pl")
    // incremental probe: the index×batch candidate join must stay a
    // banded equi-join (never all-pairs), and the bucket cap's window
    // must stay KEYED on the band key (a keyless window would funnel
    // the whole band table through one task)
    val probe = Queries.dedupIncremental(spark, dir)
    val pp = plan(probe)
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoop"),
      s"incremental probe degraded to an all-pairs join:\n$pp")
    val keyless = probe.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(keyless.isEmpty,
      s"incremental probe: ${keyless.length} keyless window(s)")
    graft.CacheRegistry.releaseAll()
  }

  test("r14 lineages: frontier anti-join equi + single exchange; compact probe banded") {
    // frontier admission: the url rollup and the seen-set anti-join key
    // identically, so the candidate side pays ONE hash exchange; the
    // crawled side broadcasts (or shuffles on the same key at scale) —
    // never a nested loop
    val fr = Queries.webFrontier(spark, dir)
    val pf = plan(fr)
    assert(pf.contains("LeftAnti"),
      s"frontier lost its anti-join:\n$pf")
    assert(!pf.contains("CartesianProduct") &&
      !pf.contains("BroadcastNestedLoop"),
      s"frontier degraded to an all-pairs join:\n$pf")
    val hashEx = pf.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1,
      s"frontier expected one candidate-side hash exchange, got $hashEx:\n$pf")
    graft.CacheRegistry.releaseAll()
    // the schedule composition: politeness ranking stays HOST-KEYED (a
    // keyless window would funnel the whole frontier through one task)
    // and the tiny delay side broadcasts
    val sched = Queries.webFrontierSchedule(spark, dir)
    val keyless = sched.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(keyless.isEmpty, s"frontier schedule: keyless window")
    val ps = plan(sched)
    assert(ps.contains("BroadcastHashJoin") &&
      !ps.contains("BroadcastNestedLoop") && !ps.contains("CartesianProduct"),
      s"frontier schedule lost the broadcast delay join:\n$ps")
    graft.CacheRegistry.releaseAll()
    // bloom-fronted admission: the seen-set probe is the native codegen
    // might_contain (no UDF), and nothing degrades to a nested loop —
    // the crawled side rides scans + broadcast semi, never a
    // crawled-sized exchange
    val pb = plan(Queries.webFrontierBloom(spark, dir))
    assert(pb.contains("might_contain"),
      s"bloom frontier lost the native BloomFilterMightContain:\n$pb")
    assert(!pb.contains("CartesianProduct") &&
      !pb.contains("BroadcastNestedLoop") && !pb.contains("UDF"),
      s"bloom frontier degraded:\n$pb")
    graft.CacheRegistry.releaseAll()
    // probe over a compacted index keeps the banded equi-join shape the
    // fragmented chain had (compaction must not change the plan family)
    val pc = plan(Queries.dedupIncrementalCompact(spark, dir))
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoop"),
      s"compacted-index probe degraded to an all-pairs join:\n$pc")
    graft.CacheRegistry.releaseAll()
  }

  test("quality audit: its keyless window is the allowlisted score-domain one") {
    // THE one shipped lineage allowed a keyless window (r14 verdict
    // wrong #1): the audit's cumulative pass runs after groupBy("score"),
    // so the window input is bounded by the round-6 score DOMAIN
    // (<= 10^6 + 1 rows) — corpus-size-independent. This test makes the
    // exemption intentional and enforced: every keyless window in the
    // audit (and in its tuned-curation consumer) must sit directly above
    // a score-grouped Aggregate; a keyless window over corpus-sized
    // input fails here
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    def keylessBounded(df: org.apache.spark.sql.DataFrame, name: String,
                       requirePresent: Boolean): Unit = {
      val keyless = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (requirePresent) assert(keyless.nonEmpty,
        s"$name lost its cumulative score window — lineage changed?")
      // the bounded aggregate must be the window's DIRECT input (through
      // grain-preserving nodes only): a score Aggregate merely SOMEWHERE
      // below — e.g. joined back to a corpus-sized frame before the
      // window — would not bound the window's row count
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project => LProject}
      def boundedInput(p: LogicalPlan): Boolean = p match {
        case a: Aggregate => a.groupingExpressions
          .exists(_.references.exists(_.name == "score"))
        case pr: LProject => boundedInput(pr.child)
        case f: LFilter => boundedInput(f.child)
        case w2: LWindow => boundedInput(w2.child) // stacked cum windows
        case _ => false
      }
      keyless.foreach { w =>
        assert(boundedInput(w.child),
          s"$name: keyless window input is NOT the score-domain " +
            s"aggregate (unbounded single-partition stage):\n$w")
      }
    }
    keylessBounded(Queries.qualityClassifyAudit(spark, dir), "audit",
      requirePresent = true)
    // the tuned capstone's threshold lineage runs eagerly (1-row read);
    // its RETURNED gate plan must not have grown a keyless window of its
    // own (the dedup window is md5-keyed)
    keylessBounded(Queries.curationPipelineTuned(spark, dir),
      "curation_pipeline_tuned", requirePresent = false)
    graft.CacheRegistry.releaseAll()
  }

  test("tuned curation: one model fit feeds threshold AND gate; no all-pairs") {
    val p = plan(Queries.curationPipelineTuned(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"tuned curation degraded to all-pairs:\n$p")
    // the scored frame is cached and reused (threshold read + gate join):
    // the gate side must read the InMemoryRelation, not refit the model
    assert(p.contains("InMemoryTableScan"),
      s"tuned curation gate refits the classifier instead of reusing " +
        s"the cached scores:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  test("crawl capstone: every join equi, every window keyed, bounded exchanges") {
    val df = Queries.crawlPretrainPipeline(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"crawl capstone degraded to an all-pairs join:\n$p")
    // all nine stages on ONE plan must stay inside the per-stage
    // exchange budget: url rollup+anti (1, shared key), host-budget
    // window (1), fetch join (1), archive group (1), dedup window (1),
    // chunk explode (0), two-pass rank (range + broadcast offsets), final
    // shard rollup (1) = 6 executed hash exchanges. The plan STRING
    // additionally prints the rank input's build lineage inline under
    // its InMemoryRelation (url/host/group/dedup again — built once,
    // cached by globalRank, the offsets job populates it), so the line
    // count reads 10; anything beyond means a stage stopped reusing its
    // upstream partitioning
    val hashEx = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 10,
      s"crawl capstone grew to $hashEx hash exchanges:\n$p")
    // and the rank input must actually BE cached — without it the whole
    // crawl chain (archive pack + extraction included) executes twice,
    // once per globalRank pass
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"crawl capstone rank input lost its cache (chain runs twice):\n$p")
    // no keyless window anywhere: the global chunk rank must stay the
    // two-pass range-partitioned recipe, never a single-task row_number
    val keyless = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(keyless.isEmpty,
      s"crawl capstone grew ${keyless.length} keyless window(s)")
    graft.CacheRegistry.releaseAll()
  }

  test("vad: kernel emits windows; the RLE merge is one required exchange") {
    // two exchanges total: the deliberate pre-render id repartition
    // (REPARTITION_BY_COL — fixture parallelism, same as the modal
    // kernels) and ONE required media_id exchange that every window/agg
    // stage downstream reuses
    val p = plan(Queries.audioVad(spark, dir))
    val required = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS"))
    assert(required <= 1,
      s"vad RLE chain stopped reusing the media partitioning:\n$p")
    graft.CacheRegistry.releaseAll()
  }

  /** Queries allowed a keyless logical `Window`, each with why its input
    * stays bounded at any scale. */
  val keylessWindowAllowed: Map[String, String] = Map(
    "emb_cluster_mixture" ->
      "mixtureTemperature's c_min window runs over one row per k-means cell",
    "quality_classify_audit" ->
      "cumulative windows over the round-6 score groups, at most 10^6+1 rows",
    "retrieval_rrf" ->
      "row_number over the two top-k lists, at most 20 rows each",
    "sample_mixture" ->
      "mixtureTemperature's c_min window runs over one row per language")

  test("no query plans a keyless window outside the whitelist") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    def keylessIn(qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Seq[(String, Int)] =
      qs.map { case (name, q) =>
        name -> q(spark, dir).queryExecution.optimizedPlan
          .collectWithSubqueries {
            case w: LWindow if w.partitionSpec.isEmpty => w
          }.length
      }.filter(_._2 > 0)
    // building a query runs its fixture and index jobs; the ANN/embedding
    // family (its index artifacts live under per-query tagged paths)
    // builds on a second thread to keep the lint under two minutes. Caches
    // are released once at the end, so no thread unpersists what another
    // thread's plan reads.
    val t0 = System.nanoTime()
    val (indexFamily, rest) = SparkEntry.queries.toSeq.sortBy(_._1)
      .partition { case (n, _) => n.startsWith("ann_") || n.startsWith("emb_") }
    val second = Future(keylessIn(indexFamily))(ExecutionContext.global)
    val keyless = (keylessIn(rest) ++ Await.result(second, Duration.Inf)).toMap
    graft.CacheRegistry.releaseAll()
    info(f"${SparkEntry.queries.size} query plans built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val offenders = keyless.keySet -- keylessWindowAllowed.keySet
    assert(offenders.isEmpty, "keyless window(s) — single-partition stage: " +
      offenders.toSeq.sorted.map(q => s"$q (${keyless(q)})").mkString(", "))
    val stale = keylessWindowAllowed.keySet -- keyless.keySet
    assert(stale.isEmpty, s"whitelisted queries with no keyless window: $stale")
  }
}
