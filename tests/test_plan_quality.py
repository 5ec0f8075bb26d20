"""Physical-plan assertions: the properties that make the engine scale
are checked, not assumed — transforms must stay map-only (no shuffle),
filters and projections must reach the parquet scan, and the fit
aggregation must use partial (map-side) aggregation."""

import pyspark.sql.functions as F
import pytest

from optbinning_spark.plans.quality import (
    executed_plan as _plan,
    is_map_only,
    num_shuffles,
    pushed_filters,
    scan_schema,
    uses_partial_aggregation,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
    )


@pytest.fixture(scope="module")
def fitted(lineitem):
    from optbinning_spark.binning import OptimalBinning

    ob = OptimalBinning(prebinning_method="quantile")
    ob.fit(lineitem, "l_extendedprice", "y")
    return ob


def test_woe_transform_is_map_only(lineitem, fitted):
    out = fitted.transform(lineitem, "l_extendedprice", metric="woe")
    plan = _plan(out)
    assert is_map_only(out), plan
    # whole-stage codegen shows as "*(n)" stage markers in plan text
    assert "WholeStageCodegen" in plan or "*(" in plan, plan


def test_scorecard_score_is_map_only(spark, lineitem):
    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    bp = BinningProcess(["l_quantity", "l_extendedprice"],
                        prebinning_method="quantile")
    sc = Scorecard(bp).fit(lineitem, "y")
    scored = sc.score(lineitem)
    assert is_map_only(scored), _plan(scored)


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = df.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert "GreaterThan(l_quantity" in pushed_filters(q), _plan(q)
    # column pruning: scan schema must not include unprojected columns
    assert "l_extendedprice" not in scan_schema(q), scan_schema(q)


def test_bin_agg_uses_partial_aggregation(lineitem):
    from optbinning_spark.operators.preprocessing import numeric_bin_expr

    b = numeric_bin_expr(F.col("l_extendedprice"), [20000.0, 50000.0])
    agg = lineitem.groupBy(b.alias("bin")).agg(
        F.sum("y").alias("n_event"), F.count("*").alias("n")
    )
    # partial + final hash aggregate around a single exchange
    assert uses_partial_aggregation(agg), _plan(agg)
    assert num_shuffles(agg) == 1, _plan(agg)


def test_transform_preserves_pushdown_through_case(spark, fitted):
    """A filter applied after the CASE transform must still push the
    scan-level predicate on the raw column."""
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = (
        df.withColumn(
            "w",
            fitted.transform_column_expr("l_extendedprice", metric="woe"),
        )
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "w")
    )
    assert "GreaterThan(l_quantity" in pushed_filters(out), _plan(out)
    assert is_map_only(out), _plan(out)


def _action_sites(tracker, jobs):
    """Distinct driver call-sites behind a set of Spark jobs.

    AQE materializes every shuffle query stage as its own job, so one
    action (``collect``/``first``) shows up as ≥2 job IDs. The fused-fit
    contract is about ACTIONS — how many times the data plane is
    invoked — so group stages by their call-site description."""
    sites = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = tracker.getStageInfo(s)
            if si is not None:
                sites.add(si.name.split("$")[0])
    return sites


def test_fit_action_counts(spark, lineitem):
    """The r18 optimistic fused-fit contract: a moderate-cardinality
    single-variable cart fit is ONE driver action (the LIMIT-guarded
    distinct-value aggregation IS the whole data plane — no separate
    probe); a high-cardinality fit detects overflow via the LIMIT and
    pays the probe + bucketized aggregation on top (three actions —
    the documented trade for the common case's single pass)."""
    from optbinning_spark.binning import OptimalBinning

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("fitcount", "fit job counting")
    OptimalBinning(prebinning_method="cart").fit(
        lineitem, "l_quantity", "y")  # 50 distinct: exact path
    jobs = tracker.getJobIdsForGroup("fitcount")
    sc.setJobGroup(None, None)
    sites = _action_sites(tracker, jobs)
    assert len(sites) == 1, f"expected 1 action, saw {sites}"
    # and the action is at most 2 jobs (AQE: shuffle map + final)
    assert len(jobs) <= 2, f"expected <=2 jobs, saw {len(jobs)}: {jobs}"

    sc.setJobGroup("fitcount_hc", "high-cardinality fit job counting")
    OptimalBinning(prebinning_method="cart").fit(
        lineitem, "l_extendedprice", "y")  # ~6k distinct: overflow
    jobs = tracker.getJobIdsForGroup("fitcount_hc")
    sc.setJobGroup(None, None)
    sites = _action_sites(tracker, jobs)
    assert len(sites) == 3, f"expected 3 actions, saw {sites}"


def test_process_fit_is_one_action(spark, lineitem):
    """The whole multi-variable narrow BinningProcess cart fit is ONE
    action (r18): the optimistic stacked aggregation IS the data plane
    — no probe action, target-type inference folded into the same
    collect. All-moderate-cardinality variables here: l_extendedprice
    (~6k distinct at this SF, above the 4,096 per-var cap) is NOT in
    this list — it would trip the LIMIT fallback (covered below)."""
    from optbinning_spark import BinningProcess

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("bpfitcount", "process fit job counting")
    bp = BinningProcess(
        ["l_quantity", "l_discount", "l_tax", "l_linestatus"],
        prebinning_method="cart",
    )
    bp.fit(lineitem, "y")
    jobs = tracker.getJobIdsForGroup("bpfitcount")
    sc.setJobGroup(None, None)
    sites = _action_sites(tracker, jobs)
    assert len(sites) == 1, f"expected 1 action, saw {sites}"
    # narrow (< 8 var) fits add NO repartition — an interleaved A/B
    # showed the spread shuffle costing ~3x the whole fit at this
    # width — so the action is at most 2 AQE jobs (shuffle map+final)
    assert len(jobs) <= 2, f"expected <=2 jobs, saw {len(jobs)}: {jobs}"
    assert bp._target_type == "binary"  # inference rode the one action


def test_process_fit_overflow_falls_back_to_probe(spark, lineitem):
    """A narrow fit containing a high-cardinality variable trips the
    optimistic LIMIT and re-routes through the probe + bucketized
    stacked aggregation — results equal to forcing the probe path."""
    from optbinning_spark import BinningProcess

    def fit(force_probe):
        bp = BinningProcess(
            ["l_quantity", "l_extendedprice"], prebinning_method="cart")
        if force_probe:
            # skip the optimistic narrow attempt: straight to the probe
            bp._optimistic_narrow_fit = lambda *a, **k: None
        bp.fit(lineitem, "y")
        return bp

    a, b = fit(False), fit(True)
    for v in ("l_quantity", "l_extendedprice"):
        assert list(a._binners[v].splits) == list(b._binners[v].splits)
        ta = a._binners[v].binning_table.build(add_totals=False)
        tb = b._binners[v].binning_table.build(add_totals=False)
        assert ta.equals(tb)


def _process_fit_actions(spark, bp, df, group):
    """SQL executions behind a fit's jobs. Unlike call sites, this
    tells apart two actions issued from the same line (the tripped and
    the probe-routed stacked aggregation); AQE's per-stage jobs share
    their action's execution id."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "process fit action counting")
    try:
        bp.fit(df, "y")
    finally:
        sc.setJobGroup(None, None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    ids = set()
    while it.hasNext():
        e = it.next()
        keys = e.jobs().keys().iterator()
        while keys.hasNext():
            if int(keys.next()) in jobs:
                ids.add(e.executionId())
    return ids


@pytest.mark.parametrize("method", ["cart", "uniform"])
def test_process_fit_narrow_overflow_is_three_actions(spark, lineitem,
                                                      method):
    """A narrow fit whose high-cardinality numeric trips the optimistic
    LIMIT pays exactly three actions: the tripped stacked aggregation,
    the probe, and the probe-routed stacked aggregation."""
    from optbinning_spark import BinningProcess

    bp = BinningProcess(["l_quantity", "l_extendedprice"],
                        prebinning_method=method)
    actions = _process_fit_actions(spark, bp, lineitem, f"bpover_{method}")
    assert len(actions) == 3, f"expected 3 actions, saw {actions}"


@pytest.mark.parametrize("method", ["cart", "uniform"])
def test_wide_process_fit_is_two_actions(spark, lineitem, method):
    """A fit of at least eight variables is exactly two actions — the
    probe and the stacked aggregation over the persisted working set —
    whatever the prebinning method."""
    from optbinning_spark import BinningProcess

    names = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
             "l_linestatus"]
    bp = BinningProcess(names, categorical_variables=["l_linestatus"],
                        prebinning_method=method)
    actions = _process_fit_actions(spark, bp, lineitem, f"bpwide_{method}")
    assert len(actions) == 2, f"expected 2 actions, saw {actions}"
    assert bp._target_type == "binary"


@pytest.mark.parametrize("kind,target", [("logistic", "y"),
                                         ("linear", "yc")])
def test_mllib_estimator_scans_once_and_runs_single_task_jobs(
        spark, monkeypatch, kind, target):
    """Above ``max_driver_rows`` the compressed design is materialized
    once, by a lazy local checkpoint that keeps the partition count AQE
    chose. Counted per job group: the estimator stage (WoE transform,
    design compression, size-probe fetch, MLlib fit) scans its input
    once, and every MLlib job runs one task at test scale (a cached
    design kept spark.sql.shuffle.partitions partitions, so each LBFGS
    iteration ran a job of several stages and tasks)."""
    import numpy as np
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.regression import LinearRegression

    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    rng = np.random.default_rng(11)
    rows = []
    for _ in range(3000):
        a, b = float(rng.normal()), float(rng.exponential(3.0))
        c = "pqrst"[int(rng.integers(0, 5))]
        lo = 0.8 * a + 0.2 * b - 0.3 * (c == "p") - 0.5
        rows.append((a, b, c, int(rng.random() < 1 / (1 + np.exp(-lo))),
                     lo + float(rng.normal())))
    sc = spark.sparkContext
    scanned = sc.accumulator(0)

    def count(r):
        scanned.add(1)
        return r

    df = spark.createDataFrame(sc.parallelize(rows, 4).map(count),
                               "a double, b double, c string, y int,"
                               " yc double")
    bp = BinningProcess(["a", "b", "c"], categorical_variables=["c"])
    bp.fit(df, target)

    est = LogisticRegression if kind == "logistic" else LinearRegression
    fit = est.fit

    def grouped_fit(self, *a, **kw):
        sc.setJobGroup(f"mllib_{kind}", "MLlib estimator jobs")
        try:
            return fit(self, *a, **kw)
        finally:
            sc.setJobGroup(f"estimator_{kind}", "scorecard estimator")

    monkeypatch.setattr(est, "fit", grouped_fit)
    before = scanned.value
    sc.setJobGroup(f"estimator_{kind}", "scorecard estimator")
    try:
        card = Scorecard(bp, estimator=kind,
                         estimator_params={"max_driver_rows": 10})
        card.fit(df, target)
    finally:
        sc.setJobGroup(None, None)
    assert scanned.value - before == len(rows)

    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(f"estimator_{kind}")
    jobs = tracker.getJobIdsForGroup(f"mllib_{kind}")
    assert jobs, "the MLlib route did not run"
    tasks = {}
    for j in jobs:
        stages = [tracker.getStageInfo(s)
                  for s in tracker.getJobInfo(j).stageIds]
        tasks[j] = sum(s.numCompletedTasks for s in stages if s is not None)
    assert set(tasks.values()) == {1}, tasks


def test_jaccard_single_scan(spark):
    """Jaccard pairs must stay one linear pipeline: a single parquet
    scan, no duplicated subtrees, no joins. (An r17 restructure that
    traded the doc-keyed size window for a checkpointed grouped index
    plus two attach-joins was measured ~10% slower at sf1-organic and
    reverted — see ngram_jaccard_pairs' in-line note.)"""
    from optbinning_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = ngram_jaccard_pairs(docs, "text", "doc_id")
    plan = _plan(q)
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_driver_closure_join_is_broadcast_no_python_rdd(spark):
    """When connected_components takes the bounded driver union-find
    path, the keep join must (1) broadcast the driver-local component
    table — not sort-merge-join it, which shuffles and sorts the
    entity side too — and (2) ship the result through the Arrow
    createDataFrame path: the pickled-list path plans an
    applySchemaToPythonRDD scan whose every downstream action spawns
    one Python worker per task (measured 0.5 s per action at
    sf0.1)."""
    from optbinning_spark.pipeline.dedup import duplicate_clusters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = duplicate_clusters(docs, n_hashes=8, band_size=2)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "applySchemaToPythonRDD" not in plan, plan


def test_dup_ngram_spans_single_scan_no_join(spark):
    """Span detection must stay one linear pipeline: a single parquet
    scan, the corpus-wide count as a window (not a join), so the only
    wide dependency is one spillable sort-exchange on the hashed
    n-gram key."""
    from optbinning_spark.pipeline.dedup import duplicate_ngram_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = duplicate_ngram_spans(docs, n=5, min_count=2)
    plan = _plan(q)
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_sampling_ops_are_map_only(spark):
    """hash_split and stratified_hash_sample must add NO exchange and
    preserve scan-level column pruning — they are pure map-side gates
    a 100 TB pipeline can fuse into any scan."""
    from optbinning_spark.pipeline.sampling import (
        hash_split,
        stratified_hash_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    split = hash_split(docs, "doc_id", {"train": 0.9, "test": 0.1}) \
        .select("doc_id", "split")
    plan = _plan(split)
    assert "Exchange" not in plan, plan
    samp = stratified_hash_sample(
        docs, "lang", {"en": 0.3}, default_fraction=1.0
    ).select("doc_id", "lang")
    plan2 = _plan(samp)
    assert "Exchange" not in plan2, plan2
    # column pruning reaches the scan: text is never read
    assert "text" not in plan2.split("ReadSchema")[-1], plan2


def test_dsir_scoring_is_map_only(spark):
    """DSIR's scoring pass must be a single Project over the scan —
    the ratio table rides as an array literal, so there is no join,
    no exchange, and no second evaluation of the corpus in the
    per-doc weight plan (the two bounded bucket-count aggregations
    run eagerly inside dsir_log_weights, before this plan exists)."""
    from optbinning_spark.pipeline.sampling import dsir_log_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = dsir_log_weights(docs, docs.filter("lang = 'es'"), n_buckets=256)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_bpe_counting_is_map_only(spark):
    """BPE token counting must stay a single Project over the scan —
    the whole vocabulary rides as expression literals, so there is no
    exchange, no join, and no UDF node (the JVM evaluates every
    merge); BPE packing adds exactly the one window exchange the
    per-shard cumsum needs, nothing more."""
    from pyspark.sql import functions as F

    from optbinning_spark.pipeline.bpe import bpe_token_count_col
    from optbinning_spark.pipeline.text import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cnt = docs.select(
        "doc_id", bpe_token_count_col(F.col("text")).alias("n"))
    plan = cnt._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "Python" not in plan  # no UDF — pure JVM expressions
    # column pruning survives the nested-replace tower
    assert "lang" not in plan.split("ReadSchema")[-1], plan

    packed = pack_sequences(docs, seq_tokens=128, shard_col="lang",
                            token_counter="bpe")
    p2 = packed._jdf.queryExecution().executedPlan().toString()
    assert p2.count("Exchange") == 1, p2  # the window's shard shuffle
    assert "Python" not in p2


def test_bm25_and_perplexity_plan_shapes(spark):
    """BM25's query-side joins must be broadcasts (no corpus shuffle
    keyed by the query set) and neither retrieval/fluency plan may
    contain a cartesian product."""
    from optbinning_spark.pipeline.similarity import bm25_topk
    from optbinning_spark.pipeline.text import ngram_lm_perplexity

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = spark.createDataFrame([(0, "spark window hash")],
                               "query_id long, query_text string")
    p1 = bm25_topk(docs, qs, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Cartesian" not in p1
    # the qterms pre-filter broadcast join sits INSIDE the eagerly
    # checkpointed single-scan tf stage (r17 shape — the corpus is
    # tokenized once and reduced before materialization), so the final
    # plan shows only the scoring-side qterms broadcast join; the
    # checkpoint scan must have replaced every parquet re-scan of the
    # corpus in this downstream plan
    assert p1.count("BroadcastHashJoin") >= 1  # qterms scoring side
    assert "Scan parquet" not in p1, p1
    p2 = ngram_lm_perplexity(docs, docs.filter("lang = 'en'")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in p2


def test_ann_join_shapes_scale(spark):
    """The three ANN paths must have the join shapes the 100 TB design
    claims: IVF and LSH are equi-joins on list/bucket ids with the
    bounded query side broadcast (never a cartesian over the corpus);
    brute force — the one intentionally exhaustive path — must
    broadcast the bounded query side so the corpus never shuffles."""
    from optbinning_spark.pipeline.similarity import (
        brute_force_topk, ivf_topk, lsh_bucketed_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id")

    p_ivf = _plan(ivf_topk(emb, qs, k=3, n_centroids=8, n_probe=3))
    assert "Cartesian" not in p_ivf, p_ivf
    assert "BroadcastHashJoin" in p_ivf, p_ivf  # equi-join on list_id

    p_lsh = _plan(lsh_bucketed_topk(emb, qs, dim=64, k=3, n_planes=4))
    assert "Cartesian" not in p_lsh, p_lsh
    assert "BroadcastHashJoin" in p_lsh, p_lsh  # equi-join on bucket

    p_bf = _plan(brute_force_topk(emb, qs, k=3))
    assert "Cartesian" not in p_bf, p_bf
    assert "BroadcastNestedLoopJoin" in p_bf, p_bf


def test_semantic_dedup_no_cartesian_one_corpus_scan_pair(spark):
    """SemDeDup's pair stage must be a self-equi-join on cluster_id —
    a cartesian here is the classic all-pairs scale killer."""
    from optbinning_spark.pipeline.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = _plan(semantic_dedup(emb, n_centroids=8, threshold=0.4))
    assert "Cartesian" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_dedup_candidate_joins_are_equi(spark):
    """MinHash-LSH candidate generation and benchmark decontamination
    must pair via band/bucket equi-joins, never a cross product."""
    from optbinning_spark.pipeline.dedup import (
        lsh_candidate_pairs, ngram_contamination)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 5)
    p1 = _plan(lsh_candidate_pairs(docs, n_hashes=8, band_size=2))
    assert "Cartesian" not in p1, p1
    p2 = _plan(ngram_contamination(docs, bench))
    assert "Cartesian" not in p2, p2
    assert "BroadcastNestedLoopJoin" not in p2, p2


def test_pq_join_shapes(spark):
    """IVF-PQ candidates come from a list_id equi-join with the
    bounded query side broadcast; plain PQ is intentionally an
    exhaustive broadcast-nested-loop over CODES (m ints per vector,
    never the raw vectors)."""
    from optbinning_spark.pipeline.similarity import (pinned_centroids,
                                                      pinned_pq_codebooks,
                                                      pq_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id")
    cb = pinned_pq_codebooks(4, 8, 64)
    p_ivf = _plan(pq_topk(emb, qs, cb, k=3,
                          centroids=pinned_centroids(4, 64), n_probe=2))
    assert "Cartesian" not in p_ivf, p_ivf
    assert "BroadcastHashJoin" in p_ivf, p_ivf
    p_pq = _plan(pq_topk(emb, qs, cb, k=3))
    assert "Cartesian" not in p_pq, p_pq
    assert "BroadcastNestedLoopJoin" in p_pq, p_pq


def test_ivf_pq_single_corpus_scan(spark):
    """The IVF-PQ candidate side must come from ONE map-only pass
    (codes + list assignment in the same select) — a second corpus
    scan self-joined on the id is the shape this pins against."""
    from optbinning_spark.pipeline.similarity import (pinned_centroids,
                                                      pinned_pq_codebooks,
                                                      pq_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id")
    p = _plan(pq_topk(emb, qs, pinned_pq_codebooks(4, 8, 64), k=3,
                      centroids=pinned_centroids(4, 64), n_probe=2))
    # scans: corpus once + broadcast query side once
    assert p.count("Scan parquet") <= 2, p
    assert "SortMergeJoin" not in p, p


def test_binning_2d_transform_is_map_only(spark, lineitem):
    """The 2-D rect transform must compile to a literal CASE over the
    scan — no join against a bins table, no shuffle (r14: this surface
    is now also driver-hash-checked via binning_2d_woe_transform)."""
    from optbinning_spark.binning_2d import OptimalBinning2D

    ob = OptimalBinning2D(
        prebinning_method="quantile",
        max_n_prebins_x=3, max_n_prebins_y=4, min_bin_size=0.10)
    ob.fit(lineitem, "l_quantity", "l_extendedprice", "y")
    out = ob.transform(lineitem, "l_quantity", "l_extendedprice",
                       metric="woe", out_col="woe")
    assert is_map_only(out), _plan(out)
    assert num_shuffles(out) == 0, _plan(out)


def test_binning_2d_fit_is_single_partial_agg(spark, lineitem):
    """The 3x4 2-D fit's data pass is ONE two-key aggregation with
    map-side combine; the 3,164-partition search is driver-side on the
    12-cell result."""
    from optbinning_spark.binning_2d import _quantile_axis_splits
    from optbinning_spark.operators.preprocessing import numeric_bin_expr

    qx, qy = _quantile_axis_splits(
        lineitem.filter(F.col("l_quantity").isNotNull()
                        & F.col("l_extendedprice").isNotNull()),
        "l_quantity", "l_extendedprice", 3, 4)
    bx = numeric_bin_expr(F.col("l_quantity").cast("double"), qx)
    by = numeric_bin_expr(F.col("l_extendedprice").cast("double"), qy)
    agg = lineitem.groupBy(bx.alias("bx"), by.alias("by")).agg(
        F.count("*").alias("n"))
    assert uses_partial_aggregation(agg), _plan(agg)
    assert num_shuffles(agg) == 1, _plan(agg)
