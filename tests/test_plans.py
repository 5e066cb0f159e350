"""Physical-plan assertions: the 100 TB properties are enforced, not
aspirational.  Each test pins a plan invariant that must survive
refactors (pushdown reaching the scan, dims broadcast, partial
aggregation before the shuffle, take-ordered instead of global sort)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoop_3_3_6_spark.plans.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """Every registered query, constructed once for the corpus-wide
    audits below.  Constructing them first also pays the one-time
    schema-inference and build-once work, so it is the warm pass of
    test_query_construction_runs_no_jobs."""
    return {name: QUERIES[name](spark, sf_dir) for name in QUERIES}


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
    assert "PushedFilters: [IsNotNull" in plan
    # shipdate range must be pushed, not post-filtered only
    assert "GreaterThanOrEqual(l_shipda" in plan  # PushedFilters list is truncated in toString
    # no shuffle at all: partial+final agg over a single scan
    assert "Exchange hashpartitioning" not in plan


def test_q6_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
    # only the 4 needed columns may be read from a 11-column table
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region at minimum
    # exactly one fact-fact shuffle join pipeline: no cartesian anywhere
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # map-side combine: partial_ aggregate on the scan side of the
    # exchange (plans print top-down, so the partial comes AFTER the
    # Exchange in the string — it is the exchange's child)
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange hashpartitioning")


def test_span_fraction_guarded_no_shingle_window_and_pruning(spark, sf_dir):
    """The >=2-docs flag comes from a complete-mode per-shingle
    aggregate over a repartition exchange — NO window over the shingle
    partition may exist (a runaway boilerplate shingle would pile one
    partition); exchange reuse (single scan at runtime) is asserted in
    test_guarded_spans_reuse_one_exchange."""
    plan = plan_of(spark, sf_dir, "dedup_span_fraction")
    assert "Window" not in plan
    import re

    # every documents scan reads at most (doc_id, text) — never the full row
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in schema.split(",")}
        assert cols <= {"doc_id", "text"}, cols


def test_pack_sequences_single_shuffle_per_block_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pipeline_pack_sequences")
    # one hash exchange into block streams + the per-block running-sum
    # window; a global (single-partition) sort would be the scale bug
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_pii_redact_is_shuffle_free(spark, sf_dir):
    # Pure projection over the scan — the ONLY permitted exchange is
    # spread_for_compute's conditional input rebalance (hash on
    # doc_id), which exists exactly when the file layout yields fewer
    # splits than cores and is a no-op at scale.
    plan = plan_of(spark, sf_dir, "text_pii_redact")
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "hashpartitioning(doc_id" in plan
    assert "Window" not in plan and "Sort" not in plan.replace("SortAggregate", "")


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    # a global Sort would be the scale bug TakeOrdered avoids
    assert "Exchange rangepartitioning" not in plan


def test_sort_uses_range_partitioning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort")
    # total-order sort = sampled range partitioning (TotalOrderPartitioner analogue)
    assert "Exchange rangepartitioning" in plan


def test_minhash_partial_mins_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_minhash")
    assert "partial_min" in plan
    assert plan.index("partial_min") > plan.index("Exchange hashpartitioning")


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan


def test_aqe_splits_skewed_join(spark):
    """The 100 TB hot-key story: with AQE on (session default), a
    skewed sort-merge join partition is split at runtime —
    SortMergeJoin(skew=true) in the final adaptive plan."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        big = spark.range(200_000).select(
            (F.when(F.col("id") % 100 < 95, 0).otherwise(F.col("id") % 1000)).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        other = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
        j = big.join(other, "k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        "q2_min_cost_supplier",
        "q11_important_stock",
        "q15_top_supplier",
        "q17_small_quantity",
        "q20_excess_share_suppliers",
        "q21_waiting_suppliers",
    ],
)
def test_decorrelated_queries_scan_fact_once(spark, sf_dir, name):
    """Spark re-executes reused DataFrame subtrees, so join-back-to-
    own-aggregate decorrelations scan the fact table per reference;
    these queries are written in single-scan window form and must stay
    that way."""
    plan = plan_of(spark, sf_dir, name)
    assert plan.count("lineitem.parquet") == 1, f"{name} re-scans lineitem"


def test_asof_join_is_linear(spark, sf_dir):
    """The as-of join must stay the union+window linear form — a range
    join + rank would materialize |events|x|orders| pairs per user
    before filtering."""
    plan = plan_of(spark, sf_dir, "asof_join_events_orders")
    for node in ["SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"]:
        assert node not in plan, f"asof join plan contains {node}"
    assert "Window" in plan


def test_asof_nearest_shares_one_shuffle(spark, sf_dir):
    """direction='nearest' runs both directional scans over the SAME
    hash(key) shuffle: exactly one exchange, two in-partition sorts,
    zero join nodes — a second exchange or a self-join would double
    the cost of the most expensive stage."""
    plan = plan_of(spark, sf_dir, "asof_join_nearest")
    assert plan.count("Exchange hashpartitioning") == 1, plan.count("Exchange hashpartitioning")
    assert plan.count("Sort [") == 2
    for node in ["SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"]:
        assert node not in plan, f"nearest asof plan contains {node}"


def test_ivf_probe_join_broadcasts(spark, sf_dir):
    """The probes-to-candidates join keys on cent_id (num_centroids
    distinct values — maximal skew for a shuffle join); the tiny probe
    side must broadcast so the corpus-sized assigned side never
    shuffles for it."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_topk")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_pq_candidates_join_is_equi_keyed(spark, sf_dir):
    """The composed IVF-PQ's list pruning must be an EQUI join of the
    corpus code table against the broadcast probe tables on cluster_id
    — a BroadcastHashJoin keyed on cluster_id, never a nested-loop
    over all codes (which would silently degrade to pq_topk's full
    scan and erase the O(N·nprobe/K) candidate bound)."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_pq_topk")
    assert "SortMergeJoin" not in plan
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l and "cluster_id" in l]
    assert bhj, plan[:3000]


def test_ivf_pq_residual_candidates_equi(spark, sf_dir):
    """Residual IVF-PQ adds the per-row residualization (an equi
    broadcast join against the k-row centroid frame) but must keep the
    composed form's list pruning: candidate scan equi-keyed on
    cluster_id, never a corpus-wide nested loop."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_pq_residual_topk")
    assert "SortMergeJoin" not in plan
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l and "cluster_id" in l]
    assert bhj, plan[:3000]


def test_interval_join_is_equi(spark, sf_dir):
    """The bucketed interval join must compile to an equi-join on
    (key, bucket) — never a nested-loop/cartesian pair scan."""
    plan = plan_of(spark, sf_dir, "interval_join_shipments")
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_embedding_neardup_pair_join_is_equi_keyed(spark, sf_dir):
    """The near-dup pair join is blocked on the cluster assignment:
    exactly one equi-join on cluster_id (SortMergeJoin or
    ShuffledHashJoin over the assigned corpus) and the ONLY
    nested-loop node is the bounded corpus x broadcast(k-centroid,
    in-plan adaptive k = ceil(sqrt(N)))
    assignment stage — pair work is sum(|cluster|^2), never
    corpus^2."""
    plan = plan_of(spark, sf_dir, "embedding_neardup")
    assert "CartesianProduct" not in plan
    # Per assignment subtree (a/b sides): one 1-row broadcast of the
    # in-plan k = ceil(sqrt(N)) scalar into the centroid filter, plus
    # the corpus x broadcast(k centroids) scoring cross — 4 bounded
    # BNLJs total, all with a broadcast side of <= k rows.
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan and "cluster_id" in plan
    )), plan
    assert "cluster_id" in plan


def test_runtime_bloom_filter_reduces_fact_scan(spark, sf_dir):
    """Catalyst's runtime bloom-filter injection: a selective dim-side
    filter materializes a bloom filter that pre-filters the fact side
    before the join shuffle — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching rows.
    Verifies the engine's confs let might_contain appear once the join
    is too big to broadcast."""
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from hadoop_3_3_6_spark.session import load_table

        li = load_table(spark, "lineitem", sf_dir)
        orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_accidental_cartesian_or_nlj_anywhere(built):
    """Corpus-wide plan audit as a regression gate: CartesianProduct
    never appears; BroadcastNestedLoopJoin only in the queries where
    the cross product IS the semantics (brute-force similarity
    baselines, IVF's bounded corpus × centroids stage, q22's and
    tf_idf's 1-row scalar-subquery crosses)."""
    allowed_nlj = {
        "similarity_topk",
        # neardup's ONLY remaining NLJ is the bounded corpus x
        # broadcast(16 centroids) assignment stage — the pair join
        # itself is equi-keyed on cluster_id (asserted in
        # test_embedding_neardup_pair_join_is_equi_keyed)
        "embedding_neardup",
        "similarity_ivf_topk",
        "similarity_ivf_trained",
        # PQ/ADC: corpus x broadcast(1-row codebook matrix) encode and
        # corpus x broadcast(bounded probe distance-tables) scoring —
        # both crosses are the semantics (no equi-key exists for a
        # 1-row matrix or an ADC table lookup)
        "similarity_pq_topk",
        # maintenance verdict row: the one-shot pq_encode side carries
        # the same 1-row codebook cross; the verdict join itself is an
        # equi FULL OUTER on vec_id
        "similarity_pq_incremental",
        # composed IVF-PQ keeps only the bounded crosses: corpus x
        # broadcast(16 centroids) coarse assignment, corpus x
        # broadcast(1-row codebook matrix) encode, probes x codebooks;
        # the candidate scan itself is an EQUI join on cluster_id
        # (plan-gated in test_ivf_pq_candidates_join_is_equi_keyed)
        "similarity_ivf_pq_topk",
        # residual variant: same bounded crosses (the residualization
        # itself is an equi broadcast join on cluster_id); candidate
        # scan equi-gated in test_ivf_pq_residual_candidates_equi
        "similarity_ivf_pq_residual_topk",
        # refined two-stage: stage 1 is the composed IVF-PQ plan
        # unchanged; the refine joins are equi broadcasts (shortlist,
        # probe vectors) — only the inherited PQ crosses remain
        "similarity_ivf_pq_refined_topk",
        # OPQ: adds the 1-row rotation-matrix broadcast cross to the
        # PQ crosses; same scalar-matrix class
        "similarity_opq_topk",
        "similarity_quantized_topk",
        "dedup_semantic",
        # same bounded corpus x broadcast(k) assignment stage as
        # dedup_semantic; stage 2 is a window, no pair join at all
        "pipeline_diversity_sample",
        "q22_global_sales_opportunity",
        "skew_profile_events",
        "histogram_order_values",
        "quantile_bins_lineitem",
        # CCNet tertile thresholds: 1-row percentile scalar cross
        # (the quantile_bins discipline)
        "pipeline_perplexity_buckets",
        "pipeline_token_budget",
        # semantic decontamination: corpus x broadcast(1-row eval
        # matrix) — the scalar-matrix cross IS the semantics (no
        # equi-key exists for a folded eval array)
        "pipeline_contamination_semantic",
        "text_tfidf_topk",
        "text_lm_score",
        "pipeline_temperature_mix",
        # 1-row corpus-totals cross feeding the smoothed log-ratio
        # table (256 rows) — same scalar-subquery shape as q22
        "pipeline_importance_resample",
        "pipeline_pretraining_e2e",
        # 1-row broadcast bloom-mask cross: the probe-side filter IS
        # the semantics (no equi-key exists for a bitmask row)
        "sketch_bloom_prefilter",
        "sketch_bloom_prefilter_fast",
        # same mask cross, plus a 1-row x 1-row scalar verdict cross
        # (exact_matches x matched_passed) — both sides are aggregates
        "sketch_bloom_prefilter_fast_verdict",
        # the recall ground truth IS similarity_topk's brute-force
        # probes x corpus NLJ (bounded: 25 probes broadcast)
        "similarity_lsh_topk_fast_verdict",
        # combine job: 1-row totals x 1-row long-word stats
        "jobcontrol_word_pipeline",
        # round-10 streaming twin: 1-row streamed-count aggregate x
        # 1-row digest-set verdict aggregate — the same scalar-combine
        # cross as jobcontrol_word_pipeline
        "pipeline_web_streaming",
        # round-12 capstone stage 1: the url_dedup accounting row is a
        # 1-row survivors aggregate x 1-row incoming-count stats
        # parquet — the jobcontrol_word_pipeline scalar-combine class
        "pipeline_pretraining_full",
    }
    # Arrow-batched Python stages are allowed only where Python IS the
    # semantics (multimodal codecs, secondary-sort carry, pandas UDAF,
    # UDTF, hadoop-streaming pipe); row-at-a-time BatchEvalPython is
    # never allowed anywhere.
    allowed_python = {
        "secondarysort",
        "udaf_weighted_price",
        "udtf_expand_orders",
        "pipe_wordcount",
        "multimodal_decode",
        "multimodal_meta",
        "multimodal_audio",
        "multimodal_video",
        "multimodal_container_meta",
        "multimodal_wav_source",  # Python DataSource scan
        "multimodal_phash_dedup",  # codec decode + dHash IS the semantics
        "multimodal_phash_incremental",  # codec decode + dHash IS the semantics
        "token_shards_roundtrip",  # binary shard IO IS the semantics
        "distch_manifest",  # executor-side stat: FS metadata IS the semantics
        "warc_source_scan",
        "avro_roundtrip",
        "seqfile_roundtrip",
        "bbp_pi_digits",  # per-digit BBP arithmetic (reference example parity)
        "similarity_lsh_topk_fast",  # numpy-matmul pandas UDF IS the fast path
        # the verdict companion runs the same pandas-UDF fast path to
        # measure its recall in-plan
        "similarity_lsh_topk_fast_verdict",
        "tokenizer_bpe_apply",  # iterative merge rewriting per word IS the semantics
        # round-9: Viterbi segmentation of DISTINCT words moved
        # executor-side (the ADVICE driver-collect fix) — one Arrow
        # stage over the distinct-word frame, never the corpus
        "tokenizer_unigram_apply",
        "text_html_extract",  # HTML parsing IS the semantics (codec tier)
        "pipeline_web_e2e",  # WARC PythonDataSource + the HTML parse stage
        # round-10: the capstone's accounting plan reads token shards
        # back (MapInPandas shard decode — binary IO IS the semantics);
        # the streaming twin's one-shot verdict side re-runs the HTML
        # parse stage (ArrowEvalPython) over the batch WARC read
        "pipeline_pretraining_full",
        "pipeline_web_streaming",
        # round-11: raw Writable wire-byte reserialization (MapInPandas
        # — the BytesWritable surfacing IS the semantics)
        "seqfile_as_binary_scan",
        # round-11: the stream-sink verdict reads its segments back
        # through the batch WARC PythonDataSource
        "warc_stream_sink_roundtrip",
        # round-12: PercentFilter's faithful reader-positional accept
        # is a PER-READER STATEFUL COUNTER across batches — no Column
        # expression can express record-ordinal state, so the
        # mapInPandas stage IS the semantics
        "seqfile_filter_percent_positional",
        # round-12: the byte-exact gensort generator — the 128-bit LCG
        # skip-ahead/step and GenSort record layout ARE the semantics
        # (python integers are the 128-bit arithmetic)
        "teragen_gensort_validate",
        # round-12: typed-bytes frame encode + raw SEQ walk + frame
        # decode — the wire format IS the semantics (codec tier), and
        # the raw reader exists precisely because the JVM CANNOT
        # deserialize TypedBytesWritable (not on the classpath)
        "typedbytes_roundtrip",
        # round-12: the binary -io typedbytes pipe — a REAL child
        # process per partition IS the operator (PipeMapRed contract)
        "pipe_typedbytes_wordcount",
    }
    python_nodes = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "PythonDataSource")
    offenders = {}
    for name, df in built.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in allowed_nlj:
            offenders[name] = "BroadcastNestedLoopJoin"
        if "BatchEvalPython" in plan:
            offenders[name] = "BatchEvalPython (row-at-a-time Python UDF)"
        elif name not in allowed_python and any(n in plan for n in python_nodes):
            offenders[name] = next(n for n in python_nodes if n in plan)
    assert not offenders, offenders


def test_query_construction_runs_no_jobs(spark, sf_dir, built):
    """Query constructors must be pure plan builders — no eager driver
    action (collect/count) hidden inside.  At scale an eager action in
    a constructor splits the plan and materializes intermediates.
    Work a constructor builds once per process (rendered dirs, trained
    models, drained stream sinks, saved tables) is paid in the warm
    pass, so those queries are measured like the lazy ones.  Exempt
    are only the queries that launch a job on EVERY construction, each
    with its reason."""
    eager_by_contract = {
        name
        for name in QUERIES
        # the availableNow drain runs at every construction
        if name.startswith("streaming_")
        or name in {
            "terasort_validate",  # checksum + per-partition sortedness collects
            "dedup_clusters",  # connected-components iterations localCheckpoint
            "pipeline_dedup_keep",  # same connected-components iterations
            "nline_split_scan",  # closed-form verdict computed from actions
            "observe_counters",  # the observed map exists only after the action
            "nulloutput_noop",  # the noop write action runs at construction
            "inputsampler_totalorder",  # the sampler collect is the workflow
            # sequenceFile toDF pays a schema-inference job per read
            "seqfile_roundtrip", "seqfile_as_text_scan", "seqfile_as_binary_scan",
            "seqfile_filter_percent", "auto_input_scan",
            # spark.read.parquet on a rendered dir pays a schema-inference job
            "jobcontrol_word_pipeline", "similarity_pq_incremental",
            "pipeline_web_streaming", "rangestream_drain", "pipeline_pretraining_full",
            "timetravel_nation_versions", "compaction_orders_scan", "zorder_orders_scan",
            "routed_outputs_scan",
            # compute their scan/footer metrics with actions
            "bloommapfile_point_skip", "lazyoutput_empty_parts",
        }
    }
    lazy = [n for n in QUERIES if n not in eager_by_contract]
    # The ``built`` fixture was the warm pass: it paid the one-time
    # parquet schema-inference jobs that load_table memoizes and the
    # build-once construction work; the measured pass must be pure.
    sc = spark.sparkContext
    offenders = {}
    for name in lazy:
        group = f"construct-{name}"
        sc.setJobGroup(group, "construction laziness sweep")
        try:
            QUERIES[name](spark, sf_dir)
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if jobs:
            offenders[name] = len(jobs)
    assert not offenders, f"eager constructors: {offenders}"


# Expressions Spark evaluates at O(input) or worse per row: the regex
# family, array sorts and dedups, sequences, and higher-order functions
# (any node with a LambdaFunction child).
_HEAVY_EXPRS = {"StringSplit", "RLike", "Like", "ILike", "ArraySort", "SortArray", "ArrayDistinct", "Sequence"}


def _seq(xs) -> list:
    return [xs.apply(i) for i in range(xs.size())]


def _annotate(nodes: list, i: int = 0) -> tuple[dict, int]:
    """Rebuild one expression tree from TreeNode.toJSON's pre-order
    list, marking each node with its free lambda variables and whether
    it contains a heavy expression."""
    node = {"cls": nodes[i]["class"].rsplit(".", 1)[-1], "kids": []}
    j = i + 1
    for _ in range(nodes[i]["num-children"]):
        kid, j = _annotate(nodes, j)
        node["kids"].append(kid)
    kids = node["kids"]
    if node["cls"] == "NamedLambdaVariable":
        node["free"] = {nodes[i]["exprId"]["id"]}
    else:
        node["free"] = set().union(*(k["free"] for k in kids))
    if node["cls"] == "LambdaFunction":
        node["free"] = node["free"] - set().union(*(k["free"] for k in kids[1:]))
    node["heavy"] = (
        node["cls"] in _HEAVY_EXPRS
        or node["cls"].startswith("RegExp")
        or any(k["cls"] == "LambdaFunction" or k["heavy"] for k in kids)
    )
    return node, j


def _invariant_in_lambda(node: dict, in_body: bool, path: tuple, out: list) -> None:
    """Collect the paths of the outermost subtrees inside a lambda body
    that are heavy yet read no variable bound outside them (a lambda
    function itself is not evaluated on its own: only its body is)."""
    if in_body and node["heavy"] and not node["free"] and node["cls"] != "LambdaFunction":
        out.append(path)
        return
    for k, kid in enumerate(node["kids"]):
        body = in_body or (node["cls"] == "LambdaFunction" and k == 0)
        _invariant_in_lambda(kid, body, path + (k,), out)


def lambda_lint(spark, plan) -> list[str]:
    """Loop-invariant work inside lambda bodies of a logical plan.

    Spark interprets higher-order functions with no common-subexpression
    elimination, so a subtree inside a lambda body is evaluated once per
    array element.  One that reads no lambda variable bound outside it
    (and is not foldable) computes the same value each time: a word rule
    inlined into an n-gram lambda re-splits the document once per gram.
    Returns each such subtree as a string."""
    import json

    patterns = spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    lam, sub = patterns.LAMBDA_FUNCTION(), patterns.PLAN_EXPRESSION()
    found, todo = [], [plan]
    while todo:
        p = todo.pop()
        if not (p.containsPattern(lam) or p.containsPattern(sub)):
            continue
        todo.extend(_seq(p.children()))
        todo.extend(_seq(p.subqueries()))
        for e in _seq(p.expressions()):
            if not e.containsPattern(lam):
                continue
            paths = []
            _invariant_in_lambda(_annotate(json.loads(e.toJSON()))[0], False, (), paths)
            for path in paths:
                x = e
                for k in path:
                    x = x.children().apply(k)
                if not x.foldable():
                    found.append(x.toString())
    return found


# Queries allowed loop-invariant work inside a lambda, each with its
# one-line reason.
LAMBDA_LINT_ALLOW: dict[str, str] = {}


def test_lambda_lint_flags_an_inlined_word_rule(spark):
    """The lint's own canary: word n-grams over the inlined word rule
    are flagged, the same n-grams over let-bound words are not."""
    from hadoop_3_3_6_spark.functions.text import let_sql, word_ngrams_sql, words_sql

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")

    def lint(sql):
        return lambda_lint(spark, df.select(F.expr(sql))._jdf.queryExecution().optimizedPlan())

    assert lint(word_ngrams_sql(words_sql("text"), 2))
    assert not lint(let_sql(words_sql("text"), "ws", word_ngrams_sql("ws", 2)))


def test_no_loop_invariant_work_inside_lambdas(spark, built):
    """No registered query evaluates loop-invariant heavy work inside a
    lambda body (see lambda_lint).  The fix is to evaluate it once per
    row first: behind text.evaluate_once, or bound by text.let_sql."""
    offenders = {}
    for name, df in built.items():
        if name in LAMBDA_LINT_ALLOW:
            continue
        found = lambda_lint(spark, df._jdf.queryExecution().optimizedPlan())
        if found:
            offenders[name] = found[0][:300]
    assert not offenders, offenders


def test_text_rules_split_each_text_once(built):
    """Language ID binds its words and per-language stopword hits once
    and the Gopher rules bind their words and their lines once, so
    each row splits its text once per rule: a lambda-heavy projection
    gets no common-subexpression elimination, and every re-derived
    split runs again per row."""
    splits = {
        name: built[name]._jdf.queryExecution().optimizedPlan().toString().count("split(")
        for name in ("text_langid", "text_langid_multi", "pipeline_gopher_rules")
    }
    assert splits == {"text_langid": 1, "text_langid_multi": 1, "pipeline_gopher_rules": 2}


# Branch switches that no caller and no test sets
# (tests/knob_inventory.py), each kept on purpose:
# "function(param=default)" -> why it stays.
UNTESTED_SWITCH_ALLOW: dict[str, str] = {
    "hash_split(weights=None)": "documented split API: a pipeline picks its own train/val/test bands",
    "hash_split(buckets=100)": "documented split API: the band resolution that goes with custom weights",
    "pack_sequences(id_col='doc_id')": "column-name parameter, the same as every operator of the module",
    "random_sample(max_splits=None)": "InputSampler parity: RandomSampler's maxSplitsSampled argument",
    "write_bloom_indexed(sort_cols=None)": "BloomMapFile parity: MapFile output is key-sorted when asked",
}


def test_no_untested_switches():
    """Every defaulted branch switch that neither a caller nor a test
    sets is on the allowlist above with its reason, and the allowlist
    names nothing else: a new untested switch is deleted or tested,
    and a switch that gained a test or was deleted leaves the list."""
    import importlib.util
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location("knob_inventory", os.path.join(here, "knob_inventory.py"))
    inv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inv)
    untested = {f"{r['function']}({r['param']})" for r in inv.inventory(os.path.dirname(here)) if not r["tests"]}
    assert untested - set(UNTESTED_SWITCH_ALLOW) == set(), "untested switches: delete them or set them in a test"
    assert set(UNTESTED_SWITCH_ALLOW) - untested == set(), "stale allowlist entries"


def test_classifier_replica_trained_once_per_split():
    """The classifier oracles share one built-once replica per training
    split (full corpus, even-id half).  Every caller passes the split
    the same way, so reading the three classifier oracles trains each
    split once: two replica entries, not a third for a keyword-spelled
    call."""
    from hadoop_3_3_6_spark.plans import queries as Q

    names = [
        "pipeline_quality_classifier",
        "pipeline_classifier_eval",
        "pipeline_classifier_calibration",
    ]
    if not all(n in Q.ORACLES for n in names):
        pytest.skip("the classifier replica oracles are not registered (fixture absent)")
    for n in names:
        Q.ORACLES[n]
    assert len([k for k in Q._BUILT if k[0] == "_qc_replica_state"]) == 2


def test_replica_rule_degrades_under_registered_name(tmp_path, monkeypatch, capsys):
    """A replica whose fixture table is missing registers its query
    without an oracle and warns at registration.  One whose build
    raises or returns None is registered, warns on its first read
    only, then reads as missing and is left out of oracle_sql().  One
    that succeeds builds once, on its first read, from the tier's table
    path."""
    import __spark_entry__
    from hadoop_3_3_6_spark.plans import queries as Q

    (tmp_path / "t.parquet").write_bytes(b"")
    monkeypatch.setattr(Q, "_REPLICA_SF_DIR", str(tmp_path))
    monkeypatch.setattr(Q, "QUERIES", {})
    monkeypatch.setattr(Q, "ORACLES", Q._Oracles())
    monkeypatch.setattr(Q, "_BUILT", {})
    monkeypatch.setattr(__spark_entry__, "ORACLES", Q.ORACLES)
    builds = []

    def broken(path):
        builds.append("probe_raises")
        raise ValueError("replica diverged")

    def ok(path):
        builds.append("probe_ok")
        return f"SELECT '{path}'"

    Q._register_replica("probe_missing", "no_such_table", lambda path: "SELECT 1")(len)
    Q._register_replica("probe_raises", "t", broken)(len)
    Q._register_replica("probe_none", "t", lambda path: builds.append("probe_none"))(len)
    Q._register_replica("probe_ok", "t", ok)(len)
    assert list(Q.QUERIES) == ["probe_missing", "probe_raises", "probe_none", "probe_ok"]
    warnings = capsys.readouterr().err.splitlines()
    assert len(warnings) == 1
    assert warnings[0].startswith("# WARNING: probe_missing oracle degraded to rows-only: ")
    assert "no_such_table.parquet" in warnings[0]
    assert list(Q.ORACLES) == ["probe_raises", "probe_none", "probe_ok"] and len(Q.ORACLES) == 3
    assert "probe_missing" not in Q.ORACLES and "probe_raises" in Q.ORACLES
    assert builds == []  # membership, len and iteration build nothing

    for _ in range(2):
        for name in ("probe_raises", "probe_none"):
            with pytest.raises(KeyError):
                Q.ORACLES[name]
    assert capsys.readouterr().err.splitlines() == [
        "# WARNING: probe_raises oracle degraded to rows-only: ValueError('replica diverged')",
        "# WARNING: probe_none oracle degraded to rows-only: the build returned None",
    ]
    assert __spark_entry__.oracle_sql() == {"probe_ok": f"SELECT '{tmp_path / 't.parquet'}'"}
    assert Q.ORACLES["probe_ok"] == f"SELECT '{tmp_path / 't.parquet'}'"
    assert builds == ["probe_raises", "probe_none", "probe_ok"]
    assert capsys.readouterr().err == ""


def _run_fresh(code: str) -> str:
    """stdout of ``code`` run in a fresh interpreter at the repo root."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    return out.stdout


# Counts the pure-Python BPE reference trainer's calls in a fresh
# interpreter, then imports the registry.
_COUNT_REFERENCE_BPE = (
    "import hadoop_3_3_6_spark.functions.bpe as bpe\n"
    "calls = []\n"
    "ref = bpe.reference_bpe\n"
    "bpe.reference_bpe = lambda *a, **k: calls.append(1) or ref(*a, **k)\n"
    "import hadoop_3_3_6_spark.plans.queries as q\n"
)


def test_registry_import_builds_no_oracle():
    """Importing the registry builds nothing: no reference BPE run and
    no oracle in the build-once store, while membership and size still
    answer."""
    out = _run_fresh(
        _COUNT_REFERENCE_BPE
        + "import os\n"
        "fixture = os.path.exists(os.path.join(q._REPLICA_SF_DIR, 'documents.parquet'))\n"
        "print(len(calls), sum(k[0] == 'oracle' for k in q._BUILT), len(q.ORACLES),"
        " 'tokenizer_bpe_apply' in q.ORACLES, fixture)\n"
    )
    n_calls, n_built, n_oracles, has_bpe, fixture = out.split()
    assert (n_calls, n_built) == ("0", "0")
    assert int(n_oracles) > 0 and has_bpe == fixture


def test_bpe_replica_trained_once_per_import():
    """Both BPE oracles read one replica merge table: reading them runs
    the pure-Python reference trainer once."""
    out = _run_fresh(
        _COUNT_REFERENCE_BPE
        + "names = [n for n in ('tokenizer_bpe_train', 'tokenizer_bpe_apply') if n in q.ORACLES]\n"
        "[q.ORACLES[n] for n in names]\n"
        "print(len(names), len(calls))\n"
    )
    n_oracles, n_calls = map(int, out.split())
    if n_oracles < 2:
        pytest.skip("the BPE replica oracles are not registered (fixture absent)")
    assert n_calls == 1


def test_driver_rotation_invariants():
    """The driver verification order is one rule: registration order
    stable-sorted by latest green round (never-checked = 0), with no
    name dropped or duplicated — and the live registry is exactly that
    rule applied to the committed CORRECTNESS files."""
    from hadoop_3_3_6_spark.plans.queries import (
        _driver_order,
        _driver_verified_rounds,
    )

    names = [
        "a_old", "b_new", "c_fast", "d_never", "c_fast_verdict",
        "e_old", "f_mid", "g_never",
    ]
    rounds = {
        "a_old": 3, "b_new": 9, "c_fast": 7, "c_fast_verdict": 2,
        "e_old": 3, "f_mid": 5,
    }
    order = _driver_order(names, rounds)
    assert sorted(order) == sorted(names) and len(order) == len(set(order))
    # never-checked first (registration order), then oldest green round
    # with ties in registration order; the fast row (round 7) is pulled
    # up next to its round-2 verdict twin
    assert order == [
        "d_never", "g_never", "c_fast_verdict", "c_fast",
        "a_old", "e_old", "f_mid", "b_new",
    ]

    live = list(QUERIES)
    assert live == _driver_order(live, _driver_verified_rounds())


def test_driver_rotation_refresh_and_companion_pairing():
    """A ``x`` / ``x_verdict`` pair always occupies ADJACENT slots, even
    when the two were last green in different rounds, so both land in
    the same round's CORRECTNESS file. (The separate refresh tier this
    test once pinned is gone: a stale name now sorts forward by its old
    round under the one order rule.)"""
    from hadoop_3_3_6_spark.plans.queries import _driver_order

    # a pair reached base-first keeps base-then-verdict
    assert _driver_order(["x_verdict", "x"], {"x": 1, "x_verdict": 4}) == ["x", "x_verdict"]
    # a pair reached verdict-first keeps verdict-then-base, and a stale
    # name (round 1) sorts ahead of fresher ones
    assert _driver_order(
        ["y", "z", "z_verdict", "w"], {"y": 6, "z": 8, "z_verdict": 2, "w": 1}
    ) == ["w", "z_verdict", "z", "y"]

    names = list(QUERIES)
    pos = {n: i for i, n in enumerate(names)}
    for n in names:
        if n.endswith("_verdict") and n[: -len("_verdict")] in pos:
            base = n[: -len("_verdict")]
            assert abs(pos[n] - pos[base]) == 1, (
                f"companion {n} not adjacent to {base}: {pos[n]} vs {pos[base]}"
            )


def test_oracle_coverage_is_pinned():
    """Every oracle key maps to a query, and the rows-only remainder is
    exactly the documented set — an oracle silently falling out of the
    registry would otherwise downgrade a query to the weaker rows-only
    driver check without anything failing."""
    from hadoop_3_3_6_spark.plans.queries import ORACLES

    assert set(ORACLES) <= set(QUERIES)
    rows_only = set(QUERIES) - set(ORACLES)
    # similarity_ivf_trained left this set in round 6 (per-iteration
    # decimal-grid quantization made the trained centroids engine-exact,
    # oracle re-derives them via an independent numpy replica), as did
    # tokenizer_bpe_train (its output IS the merge table the apply
    # oracle already re-derives independently — rendered as VALUES).
    # terasort_validate also left in round 6: its verdict row has a
    # closed form (20000 rows, sorted, checksum ok) — the verification
    # work stays Spark-side, the oracle pins the expected verdict.
    assert rows_only == {
        "approx_distinct_suppliers",
        "approx_quantiles_lineitem",
        "similarity_lsh_topk_fast",
        "dedup_minhash_fast",
        "sketch_bloom_prefilter_fast",
    }


def test_funnel_has_no_full_stream_window(spark, sf_dir):
    """The funnel is chained shrinking aggregates — a Window over the
    whole event stream (the naive sessionize-then-scan form) must
    never appear, and events scans prune to the 3 needed columns."""
    plan = plan_of(spark, sf_dir, "funnel_view_click_purchase")
    assert "Window" not in plan
    import re

    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in schema.split(",")}
        assert cols <= {"user_id", "ts", "event_type"}, cols


def test_merge_upsert_single_join(spark, sf_dir):
    """MERGE applies all three arms in ONE full-outer join over the
    merge key — no second join, no window, no distinct."""
    plan = plan_of(spark, sf_dir, "merge_upsert_orders")
    n_joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin")
    assert n_joins == 1, plan[:2000]
    assert "Window" not in plan


def test_skew_profile_single_scan(spark, sf_dir):
    """The corpus total derives from the key counts — profiling must
    scan the input once, not twice."""
    plan = plan_of(spark, sf_dir, "skew_profile_events")
    assert plan.count("Scan parquet") <= 2  # formatted output: tree + detail of ONE scan


def test_quantized_topk_integer_scoring(spark, sf_dir):
    """Quantized similarity scores with bigint folds (scales cancel);
    the embeddings scan appears for probe and corpus sides only."""
    plan = plan_of(spark, sf_dir, "similarity_quantized_topk")
    assert "bigint" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_compare_spread_is_noncoalescible(spark, sf_dir):
    """Round-6 perf fix, pinned: the fuzzy compare's probe side carries
    an EXPLICIT numPartitions repartition (shuffleOrigin
    REPARTITION_BY_NUM — AQE's no-coalesce contract) keyed on the
    VALUE column, not the block key.  Without it, AQE's size-based
    coalescing folds the byte-tiny distinct-(block,value) exchange to
    ~1 partition and runs tens of millions of banded-levenshtein DP
    evaluations on one core (measured sf1: 22.3 s of a 26 s query in a
    tasks=1 stage; with the spread, 1.7 s).  Keying on the block key
    instead would collapse into the adjacent ENSURE_REQUIREMENTS
    exchange and re-expose the stage to coalescing."""
    plan = plan_of(spark, sf_dir, "fuzzy_join_titles")
    spread_lines = [
        l for l in plan.splitlines() if "REPARTITION_BY_NUM" in l
    ]
    assert any("left_title" in l for l in spread_lines), plan


def test_embedding_neardup_pair_spread_is_noncoalescible(spark, sf_dir):
    """Same pin for the near-dup pair join: BOTH sides of the
    cluster_id equi-join are spread with an explicit-numPartitions
    repartition ON cluster_id (here the spread IS the join's own
    exchange, upgraded to the non-coalescible origin), so the
    CPU-bound sequential-fold cosine compare keeps full parallelism
    regardless of how few bytes the (id, vector, cluster_id)
    assignment rows occupy."""
    plan = plan_of(spark, sf_dir, "embedding_neardup")
    cluster_spreads = [
        l
        for l in plan.splitlines()
        if "REPARTITION_BY_NUM" in l and "cluster_id" in l
    ]
    assert len(cluster_spreads) >= 2, plan


def test_fuzzy_join_compares_distinct_values(spark, sf_dir):
    """The fuzzy join's quadratic compare must run over DISTINCT
    (block, value) pairs (distinct_values default): the plan carries
    aggregate (distinct) nodes on BOTH inputs of the levenshtein join,
    and the row-level expansion joins come after.  A silent fallback to
    the row-level pairing would reintroduce quadratic growth in the
    duplication factor (the sf1-spotcheck blowup)."""
    plan = plan_of(spark, sf_dir, "fuzzy_join_titles")
    assert "levenshtein" in plan
    import re

    distincts = re.findall(r"HashAggregate\(keys=\[_blk", plan)
    assert len(distincts) >= 2, plan  # partial+final per side, >= 2 total


def test_pivot_is_two_level_aggregate_no_expand(spark, sf_dir):
    """Pivot with explicit values must compile to the two-level
    aggregate (partial-combined (priority, status) count, then
    pivotfirst assembly on priority) — never an Expand over the scan
    and never a driver-side distinct pass (constructor purity covers
    the latter).  The scan must read only the two pivot columns."""
    plan = plan_of(spark, sf_dir, "pivot_status_matrix")
    assert "pivotfirst" in plan and "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "o_orderstatus",
        "o_orderpriority",
    }


def test_unpivot_expand_rides_above_aggregate(spark, sf_dir):
    """Unpivot (melt) is an Expand — it must multiply the 5-row
    aggregated matrix, not the scan: Expand appears exactly once and
    ABOVE the final aggregate (no exchange between them)."""
    plan = plan_of(spark, sf_dir, "unpivot_status_long")
    assert plan.count("Expand") == 1
    expand_pos = plan.index("Expand")
    first_agg_pos = plan.index("HashAggregate")
    assert first_agg_pos > expand_pos  # top-most agg is BELOW the Expand in tree print
    assert plan.count("Exchange hashpartitioning") == 2


def test_column_profile_both_tiers_have_no_expand(spark, sf_dir):
    """column_profile must never pay Catalyst's Expand (×4N row
    multiplication of the full scan): the DEFAULT tier uses HLL
    approx_count_distinct in one aggregate; the exact tier unions
    column-pruned per-column aggregates (measured 5× faster than the
    single-aggregate exact form the Expand would come from)."""
    from hadoop_3_3_6_spark.operators.counters import column_profile
    from hadoop_3_3_6_spark.plans.queries import load_table

    orders = load_table(spark, "orders", sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    default_plan = (
        column_profile(orders, cols)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in default_plan
    assert "approx_count_distinct" in default_plan
    exact_plan = (
        column_profile(orders, cols, exact=True)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in exact_plan
    assert "count(distinct" in exact_plan
    assert "Union" in exact_plan
    # per-column subplans must be column-pruned to their own column
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", exact_plan)
    assert schemas and all(len(s.split(",")) == 1 for s in schemas), schemas


def test_rendered_corpus_dir_is_cached_per_process():
    """The eager ingestion queries (wav/warc/avro/seqfile) must reuse
    ONE rendered temp dir per (prefix, sf_dir) — a fresh mkdtemp per
    construction (the round-2 behavior) leaked a directory every
    bench double-run and explain call."""
    from hadoop_3_3_6_spark.plans.queries import _BUILT, _rendered_dir

    calls = []
    d1 = _rendered_dir("cache_probe_", "/fake/sfX", lambda d: calls.append(d))
    d2 = _rendered_dir("cache_probe_", "/fake/sfX", lambda d: calls.append(d))
    d3 = _rendered_dir("cache_probe_", "/fake/sfY", lambda d: calls.append(d))
    try:
        assert d1 == d2 and len(calls) == 2  # one render per distinct key
        assert d3 != d1
    finally:
        import shutil

        for key in [("cache_probe_", "/fake/sfX"), ("cache_probe_", "/fake/sfY")]:
            shutil.rmtree(_BUILT.pop(key), ignore_errors=True)


def test_rendered_dir_removed_at_exit():
    """A rendered dir lives as long as its process: it is removed at
    interpreter exit instead of piling up in the temp dir."""
    import os
    import subprocess
    import sys

    code = (
        "from hadoop_3_3_6_spark.plans.queries import _rendered_dir\n"
        "d = _rendered_dir('exit_probe_', '/fake/sfZ',"
        " lambda d: open(d + '/part-0', 'w').write('x'))\n"
        "print(d)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    ).stdout.strip().splitlines()[-1]
    assert os.path.basename(out).startswith("exit_probe_")
    assert not os.path.exists(out)


def test_nulloutput_noop_leaves_no_temp_dir(spark, sf_dir):
    """The null sink's scratch dir is removed once files_written is
    counted: a construction leaves no nulloutput_* entry behind."""
    import os
    import tempfile

    def entries():
        return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("nulloutput_")}

    before = entries()
    rows = QUERIES["nulloutput_noop"](spark, sf_dir).collect()
    assert rows[0]["files_written"] == 0 and rows[0]["rows_discarded"] > 0
    assert entries() - before == set()


def test_bucketed_join_rebuilds_after_catalog_loss(spark, sf_dir):
    """A saved table lives in the session catalog, not the build-once
    store: once its bq_* tables are gone (as in a new session's
    catalog), constructing the query again re-creates them and returns
    the same rows."""
    import hashlib

    first = sorted(QUERIES["bucketed_join_customers"](spark, sf_dir).collect())
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    for table in ("customer", "orders"):
        spark.sql(f"DROP TABLE bq_{table}_{sfx}")
    again = sorted(QUERIES["bucketed_join_customers"](spark, sf_dir).collect())
    assert first and again == first


@pytest.mark.parametrize("name", ["dedup_spans", "dedup_spans_apply", "dedup_span_fraction"])
def test_guarded_spans_reuse_one_exchange(spark, sf_dir, name):
    """The span queries must share ONE shuffle stage between the
    per-shingle aggregate and the probe join
    (ReusedExchange in the final adaptive plan): the corpus is
    scanned/tokenized/exploded exactly once.  The reuse pin (companion
    max(pos) aggregate + always-true filter) keeps the
    partial-distinct rewrite from mutating the aggregate side's
    exchange subtree, and the null-id filter on the shingle instances
    keeps the isnotnull(doc_id) that the trailing left join onto the
    documents infers from reaching only one consumer — this test is
    the canary if a Spark upgrade changes that planning."""
    df = QUERIES[name](spark, sf_dir)
    df.collect()  # materialize THIS plan: reuse only shows in the FINAL adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, "plan did not finalize"
    assert "ReusedExchange" in plan, "exchange not reused"


def test_table_diff_digest_has_partial_agg_and_broadcast_pruning(spark, sf_dir):
    """table_diff's scale contract: the per-bucket digests partial-
    aggregate before their shuffle (volume independent of row count),
    and the mismatched-bucket list reaches both tables as a BROADCAST
    semi join — never a shuffled one."""
    plan = plan_of(spark, sf_dir, "table_diff_orders")
    assert "partial_bit_xor" in plan, plan[:2000]
    # both tables pruned via BROADCAST semi joins on the bucket list
    # (>= 2: the optimizer may push the replica's pruning into each
    # union branch, yielding one semi join per branch — still all
    # broadcast, which is the property that matters)
    semi_joins = [l for l in plan.splitlines() if "Join" in l and "LeftSemi" in l]
    assert len(semi_joins) >= 2, semi_joins
    assert all("BroadcastHashJoin" in l for l in semi_joins), semi_joins


def test_bucketed_join_query_elides_exchange(spark, sf_dir):
    """The registered bucketed-join row must run shuffle-free UNDER
    THE JOIN: both sides' bucketing (8 buckets on the join key)
    satisfies the sort-merge join's distribution requirement, so no
    Exchange may feed it — the CompositeInputFormat contract the row
    exists to pin.  At the test sf the optimizer rightly prefers a
    broadcast join (the small side fits), which would bypass the
    property — disable auto-broadcast to force the SMJ path the
    100 TB plan takes."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, sf_dir, "bucketed_join_customers")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    join_pos = plan.find("SortMergeJoin")
    assert join_pos != -1, plan[:2000]
    # plans print top-down: anything AFTER the join line is its input
    # subtree — no exchange may appear there
    assert "Exchange" not in plan[join_pos:], plan[join_pos : join_pos + 2000]


def test_semantic_contamination_is_linear_broadcast_scan(spark, sf_dir):
    """Semantic eval decontamination must stay a pure linear
    projection: the eval set folds to ONE broadcast row and the corpus
    computes its max cosine via a HOF — no pair shuffle, no equi join,
    no window; the only permitted exchange is spread_for_compute's
    conditional input rebalance."""
    plan = plan_of(spark, sf_dir, "pipeline_contamination_semantic")
    for node in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct", "Window"):
        assert node not in plan, node
    assert plan.count("Exchange hashpartitioning") <= 1


def test_similarity_rank_is_two_phase(spark, sf_dir):
    """VERDICT r7 'weak' fix: every similarity top-k must rank in two
    phases — stage 1 over (probe_id, _salt) so a probe's candidate set
    (the FULL corpus for the brute/quantized/ADC scans) spreads over
    num_salts tasks, stage 2 over probe_id alone ranking only the
    ≤ k·num_salts survivors.  The plan signature is one salted and one
    probe-only hash-partitioning exchange on the ranking path; a
    regression back to a single Window.partitionBy('probe_id') would
    drop the salted exchange and fail here.  (pq/ivf_trained share the
    same _rank_topk code path but pay eager training per construction,
    so the cheap representatives stand for the family.)"""
    import re

    for name in ("similarity_topk", "similarity_quantized_topk", "similarity_ivf_topk"):
        plan = plan_of(spark, sf_dir, name)
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        salted = [e for e in exchanges if "_salt" in e and "probe_id" in e]
        probe_only = [e for e in exchanges if "_salt" not in e and "probe_id" in e]
        assert salted, (name, exchanges)
        assert probe_only, (name, exchanges)


def test_topk_per_group_two_phase_shuffles(spark, sf_dir):
    """topk_per_group_salted must rank over (group, salt) first — a
    window partitioned by BOTH columns — then over group alone, i.e.
    exactly two hash-partitioning exchanges for the ranking path."""
    plan = plan_of(spark, sf_dir, "topk_events_per_type")
    assert plan.count("RunningWindowFunction") >= 0  # window nodes exist in some form
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    keyed = ["_salt" in e for e in exchanges]
    assert any(keyed) and not all(keyed), exchanges  # one salted, one group-only


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """The other half of the AQE insurance policy (skew split is
    pinned above): a shuffle whose 32 configured partitions carry
    trivially small data must be coalesced at runtime — at 100 TB the
    same mechanism right-sizes reducer counts per stage instead of
    inheriting one global spark.sql.shuffle.partitions."""
    df = spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan, plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """Dynamic partition pruning — the 100 TB star-join mechanism
    (prune fact partitions at RUNTIME from the broadcast dim's filter
    results, the analogue of pushing the dim filter into
    FileInputFormat.listStatus): a selectively-filtered dim joined on
    the fact's partition column must inject a dynamicpruning
    subquery into the fact scan's PartitionFilters."""
    import shutil
    import tempfile

    from hadoop_3_3_6_spark.session import load_table

    d = tempfile.mkdtemp(prefix="dpp_")
    try:
        li = load_table(spark, "lineitem", sf_dir)
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(d)
        fact = spark.read.parquet(d)
        dim = spark.createDataFrame(
            [("A", 1), ("N", 2), ("R", 3)], "flag string, tag int"
        ).filter(F.col("tag") == 1)
        j = fact.join(dim, fact.l_returnflag == dim.flag).groupBy("flag").count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:3000]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pretraining_full_stage_conservation(spark):
    """The capstone chain's accounting invariants, independent of the
    DuckDB oracle (fast structural pin at sf0.001): monotone token
    survival through the cut stages, doc conservation where stages
    only rewrite, exact mirror-count removal at exact dedup, token
    identity between the gopher survivors and the shards read-back,
    and a zero-mismatch shard roundtrip verdict."""
    rows = {
        r["stage"]: (r["docs"], r["tokens"])
        for r in QUERIES["pipeline_pretraining_full"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    from hadoop_3_3_6_spark.session import load_table

    n_docs = load_table(spark, "documents", "/root/testdata/sf0.001").count()
    n_mirrors = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter("doc_id % 50 = 0")
        .count()
    )
    n_refetches = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter("doc_id % 70 = 0")
        .count()
    )
    # r12 stage 1: URL dedup sees every fetch record and drops exactly
    # the refetches (same canonical URL as an earlier-dated original,
    # CHANGED body — the pair exact dedup could never catch)
    assert rows["url_dedup"] == (
        n_docs + n_mirrors,                 # surviving fetch records
        n_docs + n_mirrors + n_refetches,   # incoming fetch records
    )
    assert rows["extract"][0] == rows["url_dedup"][0]
    assert rows["extract"][0] == n_docs + n_mirrors
    assert rows["line_dedup"][0] == rows["extract"][0]   # rewrite, not drop
    assert rows["exact_dedup"][0] == n_docs              # mirrors removed exactly
    assert rows["span_dedup"][0] == rows["exact_dedup"][0]
    assert rows["gopher"][0] <= rows["span_dedup"][0]
    # the r11 recipe-completion stages: classifier keep then
    # score-conditioned acceptance, each a pure row cut
    assert rows["classifier"][0] <= rows["gopher"][0]
    assert rows["quality_sample"][0] <= rows["classifier"][0]
    # monotone token survival through every cutting stage
    assert (
        rows["extract"][1]
        >= rows["line_dedup"][1]
        >= rows["span_dedup"][1]
        >= rows["gopher"][1]
        >= rows["classifier"][1]
        >= rows["quality_sample"][1]
    )
    # every sampled token reaches the shards (vocab covers survivors)
    assert rows["tokenize_shards"] == (
        rows["quality_sample"][0],
        rows["quality_sample"][1],
    )
    assert rows["shards_verdict"][0] == 0                # zero roundtrip mismatches


def test_lazyoutput_reports_counts_measured_at_render(spark, sf_dir, monkeypatch):
    """lazyoutput_empty_parts reports the removal counts its render
    measured on every construction in the process, not constants once
    the rendered dir is cached."""
    import shutil

    from hadoop_3_3_6_spark.plans import queries as Q
    from hadoop_3_3_6_spark.sources import writers

    real = writers.write_non_empty

    def removes_five(df, path, **kw):
        real(df, path, **kw)
        return 5

    monkeypatch.setattr(writers, "write_non_empty", removes_five)
    key = ("lazyout_", sf_dir)
    monkeypatch.setattr(Q, "_BUILT", {k: v for k, v in Q._BUILT.items() if k != key})
    try:
        for _ in range(2):
            rows = dict(Q.QUERIES["lazyoutput_empty_parts"](spark, sf_dir).collect())
            assert rows["nonempty_parts_removed"] == 5
            assert rows["empty_write_parts_removed"] == 5
    finally:
        shutil.rmtree(Q._BUILT.get(key, ""), ignore_errors=True)
