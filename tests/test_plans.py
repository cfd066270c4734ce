"""Plan-quality gates: the 100 TB design properties, asserted.

Correctness tests can't see a filter that silently stopped pushing down
or a dimension join that fell back to shuffle — these can.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_log_analytics_flink_kafka_spark.plans import (
    formatted_plan, has_broadcast_join, node_count, pushed_filters,
    python_eval_nodes, scan_read_schemas,
)
from realtime_log_analytics_flink_kafka_spark.queries import all_queries
from tests.conftest import SF_SMOKE

QUERIES = all_queries()


#: Queries allowed to carry Arrow-vectorized Python (mapInPandas): the
#: multimodal codec stubs, whose whole point is the Pandas-UDF batch
#: plumbing.  Row-at-a-time BatchEvalPython is banned with no exceptions.
ARROW_SANCTIONED = {"frame_samples", "media_resize", "media_decode",
                    "wav_frames",
                    # grouped applyInPandas: per-label eigendecomposition
                    # has no Catalyst expression
                    "embedding_anisotropy",
                    # grouped applyInPandas chunk-moment fold (VERDICT r7
                    # #1): folds d(d+1)/2 products per (label, chunk)
                    # locally so the shuffle carries raw vectors, not the
                    # exploded product relation a collect_list would ship
                    "embedding_effective_rank",
                    # shares the _cov_cells chunk-moment fold
                    "embedding_top_eigen",
                    # Misra-Gries candidate pass: per-partition bounded
                    # summary is imperative by nature (operators/sketches)
                    "frequent_terms"}


def test_no_python_in_any_registry_query(spark):
    """Every registry operator is pure Catalyst — no Python eval nodes —
    except the explicitly sanctioned Arrow-vectorized multimodal stubs,
    which may use MapInPandas but never row-at-a-time BatchEvalPython."""
    offenders = {}
    for name, spec in QUERIES.items():
        nodes = python_eval_nodes(spec.fn(spark, SF_SMOKE))
        if name in ARROW_SANCTIONED:
            nodes = [n for n in nodes if n == "BatchEvalPython"]
        if nodes:
            offenders[name] = nodes
    assert not offenders, f"Python in hot path: {offenders}"


#: Nested-loop joins allowed per query, each with a provably bounded
#: broadcast side (never a data-sized relation): knn_bruteforce
#: broadcasts the fixed 5-query set; knn_ivf broadcasts the O(C)
#: centroid set on both the corpus and the query branch;
#: embedding_near_dups broadcasts the O(C) centroid set once (the pair
#: join itself is an equi-join on cluster id); tfidf_top_terms
#: broadcasts a single-row corpus count.  Everything else — including
#: every pairwise dedup/similarity query — must plan equi-joins only.
NESTED_LOOP_SANCTIONED = {
    "knn_bruteforce": 1,
    # same bounded query-set broadcast as knn_bruteforce; the label
    # filter is a post-probe predicate, not a join shape change
    "hard_negatives": 1,
    "knn_ivf": 2,
    "knn_ivf_multiprobe": 2,   # corpus assignment + query-probe ranking
    # same two bounded centroid broadcasts as multiprobe (corpus
    # assignment + probe ranking); the PQ codebook and ADC-table joins
    # are equi-joins on sub / (query, sub, code)
    "knn_ivf_pq": 2,
    "embedding_near_dups": 1,
    "tfidf_top_terms": 1,
    "embedding_quantization": 1,   # single-row scale array broadcast
    # single-row global-total broadcast (the Q11 scalar-subquery shape)
    "supplier_revenue_share": 1,
    "unigram_surprisal": 1,        # single-row corpus-total broadcast
    "perplexity_buckets": 1,       # composes unigram_surprisal's total
    "bm25_search": 1,              # single-row (D, L) totals broadcast
    # composes bm25_search's totals broadcast + cosine_topk's bounded
    # (here single-row) query broadcast; the RRF fusion itself is a
    # full-outer equi-join over two <= k-row relations
    "hybrid_retrieval": 2,
    "dsir_weights": 1,             # single-row (T, S) totals broadcast
    "pmi_collocations": 1,         # single-row bigram-total broadcast
    "temperature_mixture": 1,      # single-row (tot_tokens, tot_w) broadcast
    # BH step-up: single-row m broadcast + single-row k* broadcast +
    # the |services|-row moment relation joined back (equi on service,
    # but its build side is tiny enough that AQE may plan it BNLJ)
    "latency_fdr_audit": 3,
    # contingency spine: |sources|-row margin x broadcast |langs|-row
    # margin (the l_diversity bounded-attribute class) + the single-row
    # N broadcast
    "source_lang_chisq": 2,
    # one-vs-rest KS spine: distinct-length histogram × the broadcast
    # |sources|-row margin (the chisq contingency class); the cells
    # join back is an equi-join on (source, v)
    "source_ks_drift": 1,
    # single-row (mid-day) broadcast onto the bounded cells relation
    "latency_psi": 1,
    # single-row (mid-day) broadcast onto the bounded cells relation
    "latency_wasserstein": 1,
    # the single-row (n, tie) × (k, Σterms) assembly cross
    "latency_kruskal": 1,
    # single-row N broadcast onto cells + onto each margin-entropy leg,
    # then the 3-way single-row report assembly (the ARI scalar class)
    "source_lang_mi": 6,
    # single-row window-end (max ts) broadcast onto the per-user cohort
    "conversion_survival": 1,
    # the duration×service risk grid — a cross of two bounded
    # aggregates of the CHECKPOINTED cohort histogram (the
    # chisq-margins class); the cohort builder's own window-end
    # broadcast sits below the checkpoint barrier
    "conversion_logrank": 1,
    "skew_audit": 1,               # single-row (total, n_keys) broadcast
    "leakage_safe_split": 1,       # single-row straddle-audit broadcast
    "token_budget_cut": 1,         # single-row token-budget broadcast
    # |services| × |days| spine: distinct-service dim crossed with the
    # single-row min/max day sequence — both sides tiny by construction
    "service_daily_gapfill": 1,
    # IVF centroid broadcast (same subtree knn_ivf sanctions)
    "cluster_balanced_sample": 1,
    # composes unigram_surprisal's single-row corpus-total broadcast
    "quality_vs_perplexity": 1,
    # composes knn_bruteforce's query-set broadcast with knn_ivf's
    # centroid broadcasts (the corpus assignment subtree appears on both
    # the query and candidate branches); the recall join itself is an
    # equi-join on (query_id, corpus_id)
    "knn_recall": 4,
    # label-centroid pair join: all-pairs over #labels rows (centroids,
    # not corpus vectors) — bounded by the label-cardinality, broadcast
    "centroid_similarity": 1,
    # single-row global-aggregate broadcasts (Q11/Q22 scalar subqueries)
    "part_revenue_share": 1,
    "rich_idle_customers": 1,
    # single-row corpus-total broadcast against the exact recount
    "frequent_terms": 1,
    # distinct-source spine × the 2^p-row register-id broadcast (HLL
    # needs every register, including empties, for the harmonic sum)
    "hll_shingles": 1,
    # single-row corpus-total broadcast onto the bigram context table
    # (the JM mixture's T factor — same shape as unigram_surprisal's)
    "jm_bigram_surprisal": 1,
    # single-row corpus-total broadcast onto the vocabulary-sized ctf
    # table (the ln(ctf/T) corpus-distribution leg of the KL sum)
    "source_kl_divergence": 1,
    # single-row broadcast: graph-shape aggregate × triangle-count
    # aggregate (operators/dedup.triangle_stats)
    "dup_graph_triangles": 1,
    # bounded spine: distinct sources × the 100-probe relation
    "bloom_prefilter_audit": 1,
    # single-row node-count broadcast at init + once per power
    # iteration (operators/dedup.pagerank, 3 iterations)
    "dup_pagerank": 4,
    # composes hybrid_retrieval's two sanctioned single-row broadcasts;
    # the fused subtree appears once per method branch (lexical+hybrid)
    "retrieval_ndcg": 4,
    # two #lags-row (3) literal-spine broadcasts: days × lags pair
    # heads, and the per-service base × lags report spine
    "acf_daily": 2,
    # one bounded centroid-set broadcast per Lloyd sweep + the final
    # assignment (the knn_ivf subtree, KMEANS_ITERS + 1 times)
    "kmeans_refine": 3,
    # three single-row scalar broadcasts assembling the ARI numerator/
    # denominator (sij, sa, sb onto the n_docs row)
    "dedup_detector_ari": 3,
    # single-row centroid-set broadcast (all k centroid arrays in one
    # row, the ARI-scalar pattern) — scoring is map-side after it
    "kmeans_silhouette": 1,
    # single-row edge-count (m) broadcast onto the cluster report
    "dup_modularity": 1,
    # hll_shingles' register spine (distinct sources × 2^p register
    # ids); the register relation feeds BOTH legs of the pair self-join
    # so the spine subtree plans twice
    "hll_source_overlap": 2,
    # composes hybrid_retrieval's two sanctioned single-row broadcasts,
    # once per method branch (lexical + hybrid) — the retrieval_ndcg
    # shape
    "retrieval_mrr": 4,
}


def test_no_unbounded_nested_loop_joins(spark):
    """No registry query may plan a CartesianProduct or an unsanctioned
    BroadcastNestedLoopJoin — the O(n^2) shapes that are correct on
    fixtures and unusable at 100 TB.  Auto-broadcast is disabled so small
    fixtures can't mask a theta-join as a harmless broadcast.

    The same pass bans RoundRobinPartitioning: scan parallelism comes
    from the input's splits, so no operator repartitions its input."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    offenders = {}
    # cold plans: a persisted intermediate from an earlier test would
    # splice an InMemoryRelation (whose stored plan re-prints its own
    # nodes) into the formatted output and skew the node counts
    spark.catalog.clearCache()
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, spec in QUERIES.items():
            # per-query, not just once: a query that persists an
            # intermediate (e.g. the cluster-assignment subtree) would
            # otherwise splice an InMemoryRelation into every LATER
            # query sharing that subtree, double-printing its nodes
            spark.catalog.clearCache()
            df = spec.fn(spark, SF_SMOKE)
            bnlj = node_count(df, "BroadcastNestedLoopJoin")
            cart = node_count(df, "CartesianProduct")
            rr = formatted_plan(df).count("RoundRobinPartitioning")
            if cart or rr or bnlj > NESTED_LOOP_SANCTIONED.get(name, 0):
                offenders[name] = {"bnlj": bnlj, "cartesian": cart,
                                   "round_robin": rr}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not offenders, f"unsanctioned plan shapes: {offenders}"


def test_r11_banded_joins_are_equi(spark):
    """The r11 perceptual near-dup queries (audio + both incremental
    twins) must candidate-generate through banded EQUI-joins — a
    regression to a nested loop or cartesian would be the all-pairs
    plan the banding exists to avoid."""
    for name in ("audio_near_dups", "media_near_dups_incremental",
                 "audio_near_dups_incremental"):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        assert node_count(df, "CartesianProduct") == 0, name
        assert node_count(df, "BroadcastNestedLoop") == 0, name


def test_r11_bounded_relations_materialized_once(spark):
    """source_lang_chisq and latency_fdr_audit localCheckpoint their
    attribute-bounded relation so the corpus scan runs ONCE at
    construction; service_burstiness needs no barrier but must stay a
    single scan.  A re-appearing multi-scan plan means the checkpoint
    was dropped and the 100 TB table is being read once per branch."""
    for name, max_scans in (("source_lang_chisq", 0),
                            ("latency_fdr_audit", 0),
                            ("service_burstiness", 1)):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        n = len(scan_read_schemas(df))
        assert n <= max_scans, f"{name}: {n} scans in final plan"


def test_r12_ks_plan_shapes(spark):
    """The KS drift queries must keep the spend_gini value-domain
    discipline: latency_ks_drift's cumulative window runs over the
    (service, value) HISTOGRAM aggregate — one event scan, never a
    row-level rank; source_ks_drift localCheckpoints its cells so the
    corpus scans once at construction (0 scans in the final plan)."""
    df = QUERIES["latency_ks_drift"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(scan_read_schemas(df)) <= 1, plan
    assert "row_number" not in plan, plan
    tree = [l for l in plan.split("\n")
            if ("+-" in l or ":-" in l) and "(" in l]
    win_at = [i for i, l in enumerate(tree) if "Window" in l]
    assert win_at, f"expected a Window over the histogram:\n{plan}"
    below = " ".join(tree[max(win_at) + 1:])
    assert "HashAggregate" in below, (
        f"Window not fed by the histogram aggregate:\n{plan}")

    df2 = QUERIES["source_ks_drift"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df2))
    assert n == 0, f"source_ks_drift: {n} scans in final plan"

    # latency_changepoint: both Pettitt windows run on the
    # localCheckpointed days relation — 0 scans in the final plan, and
    # no row_number/rank over anything event-sized can exist once the
    # checkpoint is the only input
    df3 = QUERIES["latency_changepoint"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df3))
    assert n == 0, f"latency_changepoint: {n} scans in final plan"

    # latency_psi: split-day scalar, both halves' histograms, and the
    # det_ln fold all run on the localCheckpointed cells relation
    df4 = QUERIES["latency_psi"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df4))
    assert n == 0, f"latency_psi: {n} scans in final plan"

    # source_lang_mi: margins, N, and all three entropy folds run on
    # the localCheckpointed contingency cells (the chisq barrier)
    df5 = QUERIES["source_lang_mi"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df5))
    assert n == 0, f"source_lang_mi: {n} scans in final plan"

    # conversion_survival: exactly the two declared pushed scans (the
    # click∪purchase cohort slice and the window-end scalar) — a third
    # means a derived branch re-planned the events read
    df6 = QUERIES["conversion_survival"].fn(spark, SF_SMOKE)
    schemas = scan_read_schemas(df6)
    assert len(schemas) <= 2, f"conversion_survival: {schemas}"

    # latency_wasserstein: split-day scalar, both halves, and the
    # transport window all run on the localCheckpointed cells relation
    df7 = QUERIES["latency_wasserstein"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df7))
    assert n == 0, f"latency_wasserstein: {n} scans in final plan"

    # conversion_logrank: the risk grid, both cumulative windows, the
    # term folds, and the report join all run on the localCheckpointed
    # cohort histogram — 0 event scans in the final plan
    df8 = QUERIES["conversion_logrank"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df8))
    assert n == 0, f"conversion_logrank: {n} scans in final plan"

    # latency_kruskal: value histogram, global rank window, join-back,
    # and both single-row aggregates all run on the localCheckpointed
    # (service, ms) cells — 0 event scans in the final plan
    df9 = QUERIES["latency_kruskal"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df9))
    assert n == 0, f"latency_kruskal: {n} scans in final plan"

    # spearman_signal_correlations: all three marginal rank windows and
    # the join-back spine run on the localCheckpointed signal cells —
    # 0 corpus scans in the final plan (the corpus is scanned once, at
    # cells construction)
    df10 = QUERIES["spearman_signal_correlations"].fn(spark, SF_SMOKE)
    n = len(scan_read_schemas(df10))
    assert n == 0, f"spearman_signal_correlations: {n} scans in final plan"


def test_near_dup_pair_join_is_equi(spark):
    """The registry near-dup query's pair join is a hash/merge equi-join
    on the cluster id, not the n^2 nested loop of the brute-force
    baseline."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.catalog.clearCache()
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["embedding_near_dups"].fn(spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pricing_summary_pushdown_and_partial_agg(spark):
    df = QUERIES["pricing_summary"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert any("l_shipdate" in f for f in pushed_filters(df)), \
        "shipdate filter must reach the parquet scan"
    # Catalyst generates map-side partial aggregation automatically —
    # the property ErrorRateAgg.merge hand-codes in the reference
    assert plan.count("HashAggregate") >= 2


def test_error_filter_reaches_parquet_scan(spark):
    """Error-only queries must push event_type = 'error' into the scan.
    Filtering the DERIVED is_error CASE column does not fold back to a
    pushable predicate (this regressed silently before error_logs
    existed): at a few-percent error rate that is the difference
    between scanning the error slice and scanning everything."""
    for name in ("error_interarrival", "alert_metrics_daily",
                 "escalation_metrics_daily", "escalations_every_third",
                 "alert_union_normalized"):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        pushed = " | ".join(pushed_filters(df))
        assert "EqualTo(event_type,error)" in pushed, (
            f"{name}: error filter not pushed; got {pushed!r}")


def test_column_pruning_token_counts(spark):
    schemas = scan_read_schemas(QUERIES["token_counts"].fn(spark, SF_SMOKE))
    assert schemas, "expected a file scan"
    for s in schemas:
        assert "text" in s and "doc_id" in s
        assert "source" not in s and "lang" not in s, \
            f"unused columns not pruned from scan: {s}"


def test_dimension_joins_broadcast(spark):
    for name in ("shipping_priority", "regional_revenue"):
        assert has_broadcast_join(QUERIES[name].fn(spark, SF_SMOKE)), \
            f"{name}: dimension join should broadcast"


def test_detector_filters_pushed(spark):
    # event_type/user_id projections come from the same scan; the filter
    # on is_error is post-aggregation (HAVING) so only check pruning
    schemas = scan_read_schemas(QUERIES["error_rate_sliding"].fn(spark, SF_SMOKE))
    for s in schemas:
        assert "props" not in s, f"props must be pruned from the log scan: {s}"


def test_semi_anti_join_strategies(spark):
    plan_anti = formatted_plan(QUERIES["customers_without_orders"].fn(spark, SF_SMOKE))
    plan_semi = formatted_plan(QUERIES["suppliers_with_shipments"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan_anti
    assert "LeftSemi" in plan_semi
    assert any("l_quantity" in f for f in
               pushed_filters(QUERIES["suppliers_with_shipments"].fn(spark, SF_SMOKE)))


def test_partitioned_sink_prunes(spark, tmp_path):
    """Partition-directory filters never reach the row reader: the scan's
    PartitionFilters handle them and data files of other partitions are
    skipped entirely."""
    from realtime_log_analytics_flink_kafka_spark.sources.batch import load_table
    from realtime_log_analytics_flink_kafka_spark.sources.sinks import write_partitioned

    ev = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(ev, out, ["event_type"])

    back = spark.read.parquet(out).filter("event_type = 'error'")
    assert back.count() == ev.filter("event_type = 'error'").count()
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    # the predicate is consumed by partition pruning, not a data filter
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join with no Exchange on
    either side — the write-once shuffle is reused by every later join."""
    from realtime_log_analytics_flink_kafka_spark.sources.batch import load_table
    from realtime_log_analytics_flink_kafka_spark.sources.sinks import (
        read_bucketed, write_bucketed,
    )

    orders = load_table(spark, SF_SMOKE, "orders") \
        .select("o_orderkey", "o_orderstatus")
    li = load_table(spark, SF_SMOKE, "lineitem") \
        .select("l_orderkey", "l_quantity")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at fixture scale both sides broadcast, which bypasses bucketing;
        # disable broadcast to exercise the big-joins-big path bucketing
        # exists for (at 100 TB neither side fits in memory)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(orders, "t_orders_b", str(tmp_path / "ob"),
                       ["o_orderkey"], 4, sort_by=["o_orderkey"])
        write_bucketed(li, "t_lineitem_b", str(tmp_path / "lb"),
                       ["l_orderkey"], 4, sort_by=["l_orderkey"])
        joined = read_bucketed(spark, "t_orders_b").join(
            read_bucketed(spark, "t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"))
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() == orders.join(
            li, orders.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_spend_gini_has_no_row_level_rank_sort(spark):
    """spend_gini (VERDICT r6 scale-killer fix): the Gini ranked sum
    must come from the two-phase value-domain histogram, never a
    ``row_number`` over the customer-cardinality spend relation — TPC-H
    has 5 market segments, so a per-segment rank is 5 near-global sort
    partitions at 100×.  Gate: no row_number in the plan, and every
    Window sits ABOVE an aggregate (its input is the compact
    (segment, spend_d) histogram, not raw per-customer rows)."""
    df = QUERIES["spend_gini"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "row_number" not in plan, f"rank-sort resurfaced:\n{plan}"
    # the only Sort allowed is the window's sort over the HISTOGRAM:
    # the Window's input chain must be Sort <- Exchange <- HashAggregate
    # (the groupBy(segment, spend_d) count), never a Scan/Join directly
    tree = [l for l in plan.split("\n")
            if ("+-" in l or ":-" in l) and "(" in l]
    win_at = [i for i, l in enumerate(tree) if "Window" in l]
    assert win_at, f"expected a Window over the histogram:\n{plan}"
    i = win_at[0]
    chain = " ".join(tree[i + 1:i + 4])
    for node in ("Sort", "Exchange", "HashAggregate"):
        assert node in chain, (
            f"Window not fed by the histogram aggregate:\n{plan}")
    assert "Sort" not in " ".join(tree[:i]) and "Sort" not in " ".join(
        tree[i + 4:]), f"extra row-level sort in plan:\n{plan}"


def test_topk_per_group_gets_partial_window_group_limit(spark):
    """rank<=k windows must keep Spark's WindowGroupLimit rewrite: a
    PARTIAL top-k prune runs map-side BEFORE the Exchange, so the
    shuffle carries at most k rows per (group, input partition) instead
    of every part row.  If a refactor breaks the pattern (e.g. filters
    on a derived rank column), the partial node disappears and this
    trips."""
    plan = formatted_plan(QUERIES["top_parts_per_brand"].fn(spark, SF_SMOKE))
    tree = [l for l in plan.split("\n") if "+-" in l or ":-" in l]
    wgl = [i for i, l in enumerate(tree) if "WindowGroupLimit" in l]
    exch = [i for i, l in enumerate(tree) if "Exchange" in l]
    assert wgl and exch, plan
    # deepest WindowGroupLimit sits BELOW (after, in tree order) the
    # exchange: the map-side partial prune
    assert max(wgl) > min(exch), plan


def test_spend_deciles_has_no_unpartitioned_customer_window(spark):
    """customer_spend_deciles (r7 rewrite): the NTILE must come from
    the bucketed two-phase rank — a literal unpartitioned
    NTILE/row_number window over the customer-cardinality spend
    relation is a single Spark task at scale.  Gate: no ntile node,
    and the ranking window's sort is partitioned on the HDR bucket
    (an Exchange hashpartitioning(_bkt) feeds it), never a
    SinglePartition exchange over the spend rows."""
    df = QUERIES["customer_spend_deciles"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "ntile" not in plan, plan
    assert "row_number" in plan  # the per-bucket local rank
    assert "hashpartitioning(_bkt" in plan, plan
    # the only SinglePartition exchange allowed is the one feeding the
    # <=328-row bucket-offset prefix window, whose input is the bucket
    # COUNT aggregate, never raw spend rows
    import re
    singles = [m.start() for m in re.finditer("SinglePartition", plan)]
    for s in singles:
        # locate the exchange node id and check its child is an agg
        ctx = plan[max(0, s - 400):s + 200]
        assert "_n" in ctx or "count" in ctx, plan[s - 400:s + 200]


def test_no_vector_fold_in_nonselective_join_conditions(spark):
    """The kNN family's NULL-cosine handling must stay a pre-join
    zero-norm filter, never a post-join ``cosine IS NOT NULL`` /
    pass-all threshold: Catalyst pushes such a predicate into the join
    CONDITION by re-inlining the alias, so the whole dot-product fold
    runs twice per candidate pair (condition + projection) — the
    innermost loop at 100 TB.  Selective thresholds (embedding_near_dups,
    knn_lsh_pairs) are exempt: there the pushed predicate prunes pairs
    early, which is the plan we want.  (VERDICT r5 #6 profiling.)"""
    spark.catalog.clearCache()
    offenders = {}
    for name in ["knn_bruteforce", "knn_ivf", "knn_ivf_multiprobe",
                 "knn_recall", "centroid_similarity", "hard_negatives"]:
        df = QUERIES[name].fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [l.strip()[:160] for l in plan.split("\n")
               if "Join" in l and ("aggregate(" in l or "zip_with" in l)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"vector fold inside join condition: {offenders}"


def test_effective_rank_never_explodes_per_vector_products(spark):
    """embedding_effective_rank (VERDICT r7 #1 rewrite): the d(d+1)/2
    per-vector products must be folded INSIDE the (label, chunk)
    applyInPandas stage — never materialized as exploded rows feeding a
    collect_list aggregation, whose partial buffers carry every product
    through the exchange (~65x the vector bytes; OOMs a 1g heap at 50k
    vectors).  Gate: no Generate (explode) node anywhere in the plan,
    and the chunk-moment FlatMapGroupsInPandas stage present; the only
    collect_list aggregations run above the bounded moment relation
    (<= n_chunks values per cell)."""
    df = QUERIES["embedding_effective_rank"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, f"product explode resurfaced:\n{plan}"
    assert "FlatMapGroupsInPandas" in plan, plan
    # the moment relation is persisted and reused by the g/si/sj
    # branches — one source scan + one applyInPandas pass, not the old
    # three independent re-reads (InMemoryTableScan proves the reuse;
    # raw Scan-parquet counts are inflated by the cached child plan
    # printed inside each InMemoryRelation reference)
    assert "InMemoryTableScan" in plan, plan
