"""Plan-shape assertions: the 100 TB posture, verified on the physical
plan rather than trusted from docstrings.

Every claim the operator docstrings make about scale behavior —
"broadcasts the dim side", "no shuffle before the aggregation", "filter
pushes to the parquet scan", "never a full sort" — is asserted here via
plans.inspect. A regression that silently flips a broadcast join to
sort-merge, or un-pushes a filter, fails these tests even though result
values stay correct.
"""

from __future__ import annotations

import pytest

from postgres_cdc_plugin_spark.operators import analytics, cdc, dedup, text
from postgres_cdc_plugin_spark.plans import inspect


def test_enrich_join_all_broadcast(spark, sf_dir):
    df = analytics.orders_enrich_join(spark, sf_dir)
    kinds = inspect.join_kinds(df)
    assert kinds and set(kinds) == {"BroadcastHashJoin"}, kinds
    # only the final aggregation may shuffle
    assert inspect.exchange_count(df) <= 1, inspect.physical_plan(df)


def test_skyline_frontier_join_is_broadcast(spark, sf_dir):
    """part_skyline's fan-out join must broadcast the frontier (bounded
    by the price domain, never data-sized) — and the plan must carry no
    quadratic self-join: exactly one join, hash-equi, broadcast."""
    df = analytics.part_skyline(spark, sf_dir)
    kinds = inspect.join_kinds(df)
    assert kinds == ["BroadcastHashJoin"], kinds


def test_skyline_is_distributive_over_partitions():
    """skyline(S) == skyline(∪ skyline(part_i)) for an arbitrary split —
    the identity behind part_skyline's documented high-cardinality
    fallback (per-partition local skyline, then merge)."""
    import random

    rng = random.Random(7)
    pts = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(400)]

    def skyline(points):
        return {
            p
            for p in points
            if not any(
                q[0] <= p[0] and q[1] <= p[1] and q != p for q in points
            )
        }

    for n_parts in (2, 3, 7):
        chunks = [pts[i::n_parts] for i in range(n_parts)]
        merged = set().union(*(skyline(c) for c in chunks))
        assert skyline(merged) == skyline(pts)


def test_creds_lookup_is_broadcast(spark, sf_dir):
    df = cdc.creds_lookup_join(spark, sf_dir)
    assert "BroadcastHashJoin" in inspect.join_kinds(df)
    assert "SortMergeJoin" not in inspect.join_kinds(df)


def test_cdc_narrow_ops_do_not_shuffle(spark, sf_dir):
    # op filter is a pure map-side plan; the envelope pays exactly ONE
    # key shuffle for the UPDATE before-image window (lag per user_id)
    assert inspect.exchange_count(cdc.cdc_envelope(spark, sf_dir)) == 1
    assert inspect.exchange_count(cdc.cdc_op_filter(spark, sf_dir)) == 0


def test_op_filter_pushes_to_scan(spark, sf_dir):
    pushed = inspect.pushed_filters(cdc.cdc_op_filter(spark, sf_dir))
    assert any("event_type" in p for p in pushed), pushed


def test_pricing_agg_pushes_date_filter_and_prunes_columns(spark, sf_dir):
    df = analytics.lineitem_pricing_agg(spark, sf_dir)
    assert any("l_shipdate" in p for p in inspect.pushed_filters(df))
    schemas = inspect.read_schemas(df)
    assert schemas, "no file scan found"
    # projection needs 7 columns; the scan must not read more
    assert all(s.count(",") <= 7 for s in schemas), schemas


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    kinds = inspect.join_kinds(analytics.orders_price_band_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in kinds, kinds


def test_topk_is_not_a_full_sort(spark, sf_dir):
    # global top-k must plan as TakeOrderedAndProject, never Sort+Limit
    plan = inspect.physical_plan(analytics.top_customers_per_nation(spark, sf_dir))
    assert "rk" in plan  # sanity: right plan
    from postgres_cdc_plugin_spark.operators.text import token_frequencies

    plan = inspect.physical_plan(token_frequencies(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    # the BM25 global top-k must plan as TakeOrderedAndProject
    # (per-partition k + merge), never a full Sort+Limit
    from postgres_cdc_plugin_spark.operators.text import docs_bm25_search

    plan = inspect.physical_plan(docs_bm25_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_interval_join_is_equi_join_on_bin(spark, sf_dir):
    # the binned range join must execute as a partitionable equi-join on
    # the time-bin key — the exact overlap predicate refines AFTER the
    # hash join, never via a nested loop over the inequality (which is
    # what the DuckDB oracle runs, and what 100 TB cannot)
    from postgres_cdc_plugin_spark.operators.analytics import (
        events_interval_join,
    )

    df = events_interval_join(spark, sf_dir)
    kinds = inspect.join_kinds(df)
    assert "BroadcastNestedLoopJoin" not in kinds, kinds
    assert "CartesianProduct" not in kinds, kinds
    plan = inspect.physical_plan(df)
    assert "bin#" in plan, plan


def test_minhash_band_join_shuffles_only_band_keys(spark, sf_dir):
    # the candidate join must be an equi-join (hash-partitioned exchange),
    # not a nested-loop over the OR-condition like the SQL oracle
    df = dedup.docs_minhash_pairs(spark, sf_dir)
    kinds = inspect.join_kinds(df)
    assert "BroadcastNestedLoopJoin" not in kinds, kinds
    assert "CartesianProduct" not in kinds, kinds


def test_codegen_covers_relational_core(spark, sf_dir):
    # the pricing aggregation should execute inside whole-stage codegen
    df = analytics.lineitem_pricing_agg(spark, sf_dir)
    assert inspect.wholestage_codegen_spans(df) >= 1


def test_salted_join_matches_plain_join(spark, sf_dir):
    """plans.salted.salted_join spreads hot keys without changing results
    (inner and left-outer), on a deliberately skewed input."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.plans.salted import salted_join

    # 90% of left rows share key 0 — the power-law shape salting exists for
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 2000, 5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
    )

    for how in ("inner", "left"):
        plain = left.join(right, on=["k"], how=how)
        salted = salted_join(left, right, on=["k"], n_salts=4, how=how)
        assert salted.columns == plain.columns
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_salted_join_spreads_hot_key(spark):
    """Every salt bucket of the hot key receives rows — the hot key really
    fans out over n partitions' worth of sub-keys."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.plans.salted import salted_join

    left = spark.range(1000).select(F.lit(0).alias("k"), F.col("id").alias("p"))
    right = spark.createDataFrame([(0, "x")], "k long, rv string")
    out = salted_join(left, right, on=["k"], n_salts=4)
    # reconstruct the deterministic salt distribution the join used
    n_buckets = (
        left.withColumn("s", F.pmod(F.hash("k", "p"), F.lit(4)))
        .select("s").distinct().count()
    )
    assert n_buckets == 4
    assert out.count() == 1000


def test_salted_enrich_plan_carries_salt(spark, sf_dir):
    """The DECLARED salted-join query (events_salted_enrich) really
    executes the salted construction: the physical plan joins on the
    salt column and replicates the right side via the salt explode.
    Result-invariance vs the plain join is the query's DuckDB oracle."""
    df = analytics.events_salted_enrich(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "__salt" in plan, plan
    assert "explode" in plan.lower(), plan


def test_bucketed_join_query_is_exchange_free(spark, sf_dir):
    """The DECLARED bucketed query (orders_bucketed_join) reads its
    pre-bucketed fact tables and plans the join AND the per-key
    aggregation with ZERO exchanges — the shuffle was paid at write
    time. Result parity vs the plain join is the query's DuckDB
    oracle."""
    df = analytics.orders_bucketed_join(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.physical_plan(df)


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Both sides bucketed+sorted on the join key => the orders x
    lineitem fact-fact join runs with ZERO exchanges (the shuffle was
    paid once at write time). The per-key aggregation on the same key is
    exchange-free too."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.analytics import load
    from postgres_cdc_plugin_spark.plans import bucketing

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    bucketing.write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    bucketing.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        n_buckets=8,
    )
    try:
        bo = bucketing.read_table(spark, "b_orders")
        bl = bucketing.read_table(spark, "b_lineitem")
        joined = bo.join(bl, "o_orderkey").groupBy("o_orderkey").agg(
            F.sum("l_quantity").alias("qty"), F.max("o_totalprice").alias("price")
        )
        from postgres_cdc_plugin_spark.plans import inspect

        assert inspect.exchange_count(joined) == 0, inspect.physical_plan(joined)
        # sanity: results match the plain (shuffling) join
        plain = (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .join(
                load(spark, sf_dir, "lineitem").select(
                    F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
                ),
                "o_orderkey",
            )
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"), F.max("o_totalprice").alias("price"))
        )
        assert joined.exceptAll(plain).count() == 0
        assert plain.exceptAll(joined).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_shipping_priority_plan_shape(spark, sf_dir):
    """The Q3-shaped composite gets the plan its docstring promises:
    filtered customer dim broadcast, date filters pushed to both fact
    scans, LIMIT as TakeOrderedAndProject (never a full sort)."""
    df = analytics.orders_shipping_priority(spark, sf_dir)
    kinds = inspect.join_kinds(df)
    assert "BroadcastHashJoin" in kinds, kinds
    pushed = " ".join(inspect.pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed, pushed
    assert "TakeOrderedAndProject" in inspect.physical_plan(df)


def test_contamination_bench_side_broadcasts(spark, sf_dir):
    # the benchmark gram set is tiny relative to the corpus: the
    # membership probe must be a broadcast join, never sort-merge
    df = text.docs_contamination(spark, sf_dir)
    kinds = inspect.join_kinds(df)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds, kinds


def test_repetition_filter_gram_build_is_narrow(spark, sf_dir):
    # the bigram-dup side is a pure projection; only the token-count
    # aggregation and the doc_id join may shuffle
    df = text.docs_repetition_filter(spark, sf_dir)
    assert inspect.exchange_count(df) <= 4, inspect.physical_plan(df)


def test_tfidf_corpus_size_is_broadcast_not_collected(spark, sf_dir):
    # N (corpus size) must enter the plan as a broadcast 1-row relation,
    # not a driver-side collect baked into a literal
    df = text.token_tfidf(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_docs_chunks_is_shuffle_free(spark, sf_dir):
    # chunking is explode + slice: pure narrow map-side plan at any scale
    from postgres_cdc_plugin_spark.operators.text import docs_chunks

    assert inspect.exchange_count(docs_chunks(spark, sf_dir)) == 0


def test_envelope_json_single_key_shuffle(spark, sf_dir):
    # schema-on-read envelope: to_json/create_map are narrow, but the
    # UPDATE before-image reconstruction (lag of the key's previous
    # post-state) needs exactly ONE shuffle on the key — never more
    assert inspect.exchange_count(cdc.cdc_envelope_json(spark, sf_dir)) == 1


def test_neardup_tiles_single_scan_no_collect(spark, sf_dir):
    # the tiled block-matrix join replicates tile memberships through
    # ONE scan + explode + hash shuffle; nothing broadcasts the corpus
    # or plans a CollectLimit/Cartesian over it
    from postgres_cdc_plugin_spark.operators.similarity import embed_neardup_pairs

    df = embed_neardup_pairs(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_pack_bins_single_shard_shuffle(spark, sf_dir):
    # sequence packing = ONE exchange (hash partition by shard); the
    # running sum and bin assignment ride that partitioning
    from postgres_cdc_plugin_spark.operators.text import docs_pack_bins

    assert inspect.exchange_count(docs_pack_bins(spark, sf_dir)) == 1


def test_source_mix_aggregates_before_window(spark, sf_dir):
    # corpus totals come from a window over the #sources-row aggregate —
    # the plan has the groupBy exchange plus the single-partition window
    # exchange over that tiny aggregate, never a second source scan
    from postgres_cdc_plugin_spark.operators.text import docs_source_mix

    df = docs_source_mix(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert plan.count("Scan parquet") == 1, plan


def test_boilerplate_grams_single_shingle_pass(spark, sf_dir):
    # the persisted gram stream feeds both the df-count branch and the
    # probe side: both branches must read the SAME InMemoryRelation —
    # the corpus shingles once, not once per branch. ("Scan parquet"
    # appears once inside each cached-subtree print; the cache itself
    # guarantees single execution.)
    from postgres_cdc_plugin_spark.operators.text import docs_boilerplate_ngrams

    # plan-shape counts assume a clean cache: earlier tests' persisted
    # fragments would be substituted into this plan by the CacheManager
    spark.catalog.clearCache()
    df = docs_boilerplate_ngrams(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert plan.count("InMemoryTableScan") == 2, plan
    assert plan.count("Scan parquet") <= plan.count("InMemoryTableScan"), plan


def test_pipeline_e2e_stage_order(spark, sf_dir):
    # cheap-first composition: the quality filter must sit UNDER the
    # dedup window's exchange (filter before shuffle) in every branch
    # that recomputes the dedup stage, and chunking adds no exchange
    from postgres_cdc_plugin_spark.operators.text import docs_pipeline_e2e

    spark.catalog.clearCache()  # same cache-independence requirement
    df = docs_pipeline_e2e(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "RowNumber" in plan or "row_number" in plan, plan
    # essential exchanges only: fingerprint window (x2 branches), the
    # _token_grams repartition, gram-df ENSURE pair, per-doc rollup,
    # plus AQE's broadcast of the keep set; a regression that, e.g.,
    # re-shuffles for chunking or flips the keep join to SMJ adds more
    assert inspect.exchange_count(df) <= 9, plan
    # chunking never shuffles: no exchange may sit above the keep join
    top = plan.split("BroadcastHashJoin")[0]
    assert "Exchange" not in top, plan


def test_pq_codes_argmin_is_partial_agg_not_window(spark, sf_dir):
    # the 10-candidate expansion must collapse map-side via partial
    # min-struct aggregation — a row_number window would shuffle every
    # candidate row instead of ~one row per vector
    from postgres_cdc_plugin_spark.operators.similarity import embed_pq_codes

    spark.catalog.clearCache()
    df = embed_pq_codes(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "RowNumber" not in plan and "row_number" not in plan, plan
    assert "partial_min" in plan, plan
    assert "BroadcastNestedLoopJoin" in inspect.join_kinds(df)
    # codebook build (dim agg + label rollup) + one vec_id rollup
    assert inspect.exchange_count(df) <= 3, plan


def test_zipf_window_runs_over_vocab_not_corpus(spark, sf_dir):
    # the rank/cumsum window and the 1-row total must both consume the
    # AGGREGATED vocab relation; the explode stays under the token-count
    # aggregation so the single-partition stages see vocab-sized input
    from postgres_cdc_plugin_spark.operators.text import token_zipf_audit

    spark.catalog.clearCache()
    df = token_zipf_audit(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert plan.count("Exchange SinglePartition") == 2, plan
    # the explode (Generate) sits strictly below the first
    # single-partition exchange in the tree print
    assert plan.rfind("Generate") > plan.find("Exchange SinglePartition"), plan


def test_mixture_bucketed_windows_are_bucket_partitioned(spark, sf_dir):
    # the 100 TB claim of mixture_sample_bucketed: the doc-grain
    # admission window must partition by (lang, bucket) — never by lang
    # alone (that's exactly the giant-language sort the alternate path
    # exists to break up); the lang-only windows that remain operate on
    # the languages-sized histogram/quota relations, not the corpus
    from postgres_cdc_plugin_spark.operators.text import (
        mixture_sample_bucketed,
    )

    import re

    spark.catalog.clearCache()
    plan = inspect.physical_plan(mixture_sample_bucketed(spark, sf_dir))
    # every Window ordered by the doc-grain (priority, doc_id) sort —
    # the admission fill — must carry bucket in its partition spec
    doc_windows = [
        m.group(0)
        for m in re.finditer(r"Window \[[^\n]*priority[^\n]*", plan)
    ]
    assert doc_windows, plan
    for w in doc_windows:
        assert "bucket" in w, w


def test_embed_pipeline_e2e_single_rollup(spark, sf_dir):
    # all nine argmins (cell + 4 PQ codes, each with its distance) come
    # out of ONE partial-agg groupBy — no window, no sort-merge join
    from postgres_cdc_plugin_spark.operators.similarity import embed_pipeline_e2e

    spark.catalog.clearCache()
    df = embed_pipeline_e2e(spark, sf_dir)
    plan = inspect.physical_plan(df)
    kinds = inspect.join_kinds(df)
    assert "SortMergeJoin" not in kinds, kinds
    assert "RowNumber" not in plan and "row_number" not in plan, plan
    assert "partial_min" in plan, plan
    assert inspect.exchange_count(df) <= 8, plan


def test_ivf_cell_layout_prunes_partitions(spark, sf_dir, tmp_path):
    # the scale claim behind embed_ann_ivf / embed_ivf_assign: once the
    # corpus is WRITTEN partitioned by cell id, probing nprobe cells is
    # partition PRUNING — the scan plans only the probed directories,
    # it never reads (or filters) the rest
    from postgres_cdc_plugin_spark.operators.similarity import embed_ivf_assign

    out = str(tmp_path / "ivf_corpus")
    embed_ivf_assign(spark, sf_dir).write.partitionBy("cell").parquet(out)

    probe = spark.read.parquet(out).filter("cell IN (0, 1, 2)")
    plan = inspect.physical_plan(probe, "formatted")
    # the cell predicate must land in PartitionFilters (pruned at
    # planning — unprobed directories are never even listed as splits),
    # NOT in PushedFilters/Filter (which would still scan every file)
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cell" in pf, plan
    # and the executed scan reads exactly the probed partitions' rows
    # while full-scan row count comes from all 10 cells
    assert probe.count() == (
        embed_ivf_assign(spark, sf_dir).filter("cell IN (0, 1, 2)").count()
    )
    all_cells = {
        int(p.split("cell=")[1].split("/")[0])
        for p in spark.read.parquet(out).inputFiles()
    }
    assert len(all_cells) > 3, all_cells  # layout actually fanned out


def test_semdedup_pair_join_is_equi_on_cell(spark, sf_dir):
    # the SemDeDup scale claim: intra-cell pairs come from an EQUI-join
    # on the cell id (partition-local once the corpus is laid out by
    # cell) — never a cartesian/broadcast-nested-loop over the corpus
    import re

    from postgres_cdc_plugin_spark.operators.similarity import embed_semdedup

    df = embed_semdedup(spark, sf_dir)
    plan = inspect.physical_plan(df, "formatted")
    assert "CartesianProduct" not in plan, plan
    # the ONLY nested-loop allowed is the k-row centroid cross join
    # (broadcast side = the tiny cvec relation); a pair join degraded
    # to a nested loop over the corpus would add a second DISTINCT
    # node (the tree rendering repeats the shared node id)
    bnlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_nodes) <= 1, (bnlj_nodes, plan)
    # the pair join is an equi-join whose KEY (not merely an output
    # column) is the cell id
    assert re.search(r"Left keys \[\d+\]: \[cell#", plan), plan


# Queries allowed to plan a BroadcastNestedLoopJoin: every entry is a
# pinned broadcast-TINY pattern (scalar aggregate, k-row centroid
# codebook, or the documented inequality band join) — the broadcast side
# is O(1)/O(k), never data-sized. Anything else planning a BNLJ (or any
# query planning a CartesianProduct) is a scale regression.
_BNLJ_ALLOWED = {
    "customer_balance_outliers",  # scalar avg/stddev crossJoin
    "orders_market_basket",  # scalar total-orders crossJoin
    "part_copurchase_pagerank",  # scalar vertex-count crossJoin
    "docs_dedup_method_agreement",  # three scalar pair-count crossJoins
    "embed_ann_ivf",  # k-row centroid codebook
    "embed_ann_ivfpq",  # k-row codebook + k-row ADC lookup table
    "embed_ann_lsh",  # hyperplane constants
    "embed_ivf_assign",  # k-row centroid codebook
    "embed_kmeans",  # k-row codebook per Lloyd pass
    "embed_knn",  # 1-row query vector
    "embed_bq_search",  # 1-row query code crossJoin, same family (r6)
    "embed_ndcg_audit",  # composes knn/lsh/ivf/bq legs + 1-row idcg crossJoin (r6)
    "embed_pipeline_e2e",  # composite of the above
    "embed_recall_audit",  # composes embed_knn + embed_ann_ivf
    "embed_ivf_tuning",  # |grid| x k-row probe theta-join + 1-row query (r9)
    "embed_pq_codes",  # sub-codebooks
    "embed_semdedup",  # k-row centroid codebook (equi pair join pinned above)
    "orders_price_band_join",  # intentional inequality band join
    "docs_unigram_surprisal",  # scalar corpus-token total
    "docs_ccnet_buckets",  # same scalar total via the shared surprisal kernel (r6)
    "token_bigram_surprisal",  # scalar corpus-token total (r4)
    "docs_dsir_weights",  # 1-row corpus stats (vocab size + totals, r4)
    "docs_word_pmi",  # 1-row doc-count scalar crossJoins (r4)
    "embed_silhouette",  # k-row codebook crossJoin per Lloyd pass (r4)
    "embed_pca_power",  # 1-row mean/weight/norm-vector crossJoins (r4)
    "events_key_skew_audit",  # 1-row global-stats crossJoin (r4)
    "events_cusum_changepoint",  # 1-row global date-range crossJoin (r6)
    "events_seasonal_anomaly",  # same 1-row date-range crossJoin (r6)
    "events_holt_forecast",  # same 1-row date-range crossJoin (r6)
    "embed_cell_balance_audit",  # codebook + 1-row stats crossJoins (r4)
    "token_bigram_stats",  # scalar corpus totals
    "token_bpe_merges",  # 1-row argmax merge rule per iteration
    "token_tfidf",  # scalar corpus size
    "token_zipf_audit",  # scalar vocab size
    "docs_bm25_search",  # 1-row corpus stats + 3-row idf crossJoins (r6)
    "embed_kcenter_coreset",  # 1-row center crossJoin per greedy step (r6)
    "docs_lsh_tuning",  # 1-row count-aggregate crossJoins per config (r6)
    "embed_mmr_rerank",  # 1-row query-vector + per-pick crossJoins (r6)
    "docs_hybrid_search",  # composes docs_bm25_search + embed_knn legs (r6)
    "lineitem_column_profile",  # two 1-row stats relations crossJoined (r6)
    "orders_join_cardinality_audit",  # 1-row stats + 1-row true-size crossJoins (r6)
    "embed_matryoshka_audit",  # 1-row query-slice crossJoin + embed_knn leg (r6)
    "docs_bloom_dedup_audit",  # five 1-row count/fill aggregates crossJoined (r7)
    "docs_lang_temperature_mix",  # two 1-row total crossJoins (r8)
    "docs_mixture_sample",  # inherits the mix's crossJoins + 1-row budget (r8)
    "docs_mixture_realized_mix",  # wraps the ledger + mix verbatim (r9)
    "token_heavy_hitters",  # 1-row corpus-total N crossJoin in the MG guarantee audit (r10)
    "docs_ingest_chain",  # inherits the mixture admission's 1-row budget/total crossJoins (r10)
    "docs_ingest_chain_nd",  # same inherited 1-row budget/total crossJoins (r11)
    "docs_classifier_pr_curve",  # |thresholds|-row broadcast grid fan-out (r10)
    "docs_dedup_sensitivity",  # |thresholds|-row grid + 1-row corpus-count crossJoins (r10)
    "token_kneser_ney",  # 1-row bigram-type-total crossJoin (r10)
    "docs_kn_surprisal",  # same 1-row type-total via the shared _kn_probs kernel (r10)
    "docs_kn_band",  # same 1-row type-total via _kn_doc_scores/_kn_probs (r11)
    "docs_quality_kn_interaction",  # _kn_probs type-total + 1-row n_total crossJoins (r11)
    "docs_softdedup_effective_mass",  # 1-row raw/effective total crossJoin (r11)
    "embed_prototypicality",  # k-row codebook per Lloyd pass via _km_fit (r11)
    "embed_cluster_purity",  # k-row codebook via _km_fit + 1-row n_total crossJoin (r11)
    "docs_ingest_chain_kn",  # inherited mixture 1-row budget/total + _kn_probs type-total crossJoins (r12)
    "docs_ingest_chain_audit",  # the same inherited chain crossJoins (r12)
    "docs_ingest_chain_contam",  # the same inherited chain crossJoins (r14)
    "embed_intrinsic_dim_ann",  # k-row codebook crossJoin via embed_ivf_assign's argmin (r12)
}


def test_no_query_plans_cartesian_or_unapproved_nested_loop(spark, sf_dir):
    """Surface-wide guardrail over the ENTIRE registry: no query may
    plan a CartesianProduct, and BroadcastNestedLoopJoin only for the
    allowlisted broadcast-tiny patterns. Catches a new/edited query
    whose join degrades to a product before any benchmark would."""
    from postgres_cdc_plugin_spark import registry

    offenders = {}
    for name, fn in registry.queries().items():
        plan = inspect.physical_plan(fn(spark, sf_dir))
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            problems.append("unapproved BroadcastNestedLoopJoin")
        if problems:
            offenders[name] = problems
    assert not offenders, offenders
    # the allowlist must not go stale: every listed query still exists
    assert _BNLJ_ALLOWED <= set(registry.queries()), (
        _BNLJ_ALLOWED - set(registry.queries())
    )


def test_salted_join_handles_map_columns(spark):
    # MapType columns must not break the salt (F.hash rejects maps —
    # the salt hashes only the hashable column subset), and hot-key
    # rows with a varying payload still spread across salts
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.plans.salted import salted_join

    left = spark.range(200).select(
        F.lit("hot").alias("k"),
        F.col("id").alias("p"),
        F.create_map(F.lit("a"), F.lit("b")).alias("m"),
    )
    right = spark.createDataFrame([("hot", 1)], "k string, v int")
    out = salted_join(left, right, on=["k"], n_salts=4)
    assert out.count() == 200  # every hot-key row still joins once
    n_salts_used = (
        left.withColumn("s", F.pmod(F.hash("k", "p"), F.lit(4)))
        .select("s").distinct().count()
    )
    assert n_salts_used > 1  # the hot key really fans out


def test_salted_join_handles_nested_map_and_spreads_map_only_diffs(spark):
    # maps nested inside structs also crash F.hash — they must be
    # excluded recursively; and hot-key rows differing ONLY in a
    # top-level map column must still spread across salts (via the
    # canonical sorted-entries rendition)
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.plans.salted import salted_join

    left = spark.range(200).select(
        F.lit("hot").alias("k"),
        F.create_map(F.lit("a"), F.col("id").cast("string")).alias("m"),
        F.struct(
            F.create_map(F.lit("x"), F.lit("y")).alias("inner")
        ).alias("s"),
    )
    right = spark.createDataFrame([("hot", 1)], "k string, v int")
    out = salted_join(left, right, on=["k"], n_salts=4)
    assert out.count() == 200
    n_salts_used = (
        left.withColumn(
            "salt",
            F.pmod(
                F.hash(
                    "k", F.to_json(F.array_sort(F.map_entries("m")))
                ),
                F.lit(4),
            ),
        )
        .select("salt").distinct().count()
    )
    assert n_salts_used > 1  # map-only row diffs fan the hot key out


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a date-partitioned fact with
    a FILTERED dim on the partition column must inject a runtime
    dynamicpruning subquery into the fact scan's PartitionFilters — at
    100 TB this is what keeps a quarter-scoped star join from reading
    the whole fact table's partitions. The fixture writes orders
    partitioned by order month (the layout a real deployment uses) and
    pins that THIS Spark build plans the rewrite."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.session import load

    fact_dir = str(tmp_path / "orders_by_month")
    load(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.partitionBy("o_month").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    months = (
        fact.select("o_month")
        .distinct()
        .withColumn("q", F.substring("o_month", 6, 2).cast("int"))
    )
    dim = months.filter(F.col("q") <= 3)  # one quarter of the months
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcast keeps the dim on the build side, the DPP shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        j = fact.join(dim, "o_month").groupBy("o_month").agg(
            F.sum("o_totalprice").alias("rev")
        )
        plan = inspect.physical_plan(j)
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime semi-join reduction: on a shuffle fact-fact join with a
    selective build side, Catalyst injects a bloom-filter
    might_contain() predicate onto the probe-side SCAN — at 100 TB this
    skips whole row groups of lineitem before the exchange. The
    optimization is size-gated (application side must be scan-heavy),
    so the test lowers the thresholds to emulate the cluster condition
    on local data; the assertion is that THIS Spark build plans the
    rewrite our scale posture relies on."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.session import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_orderdate")
        )
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderdate")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = inspect.physical_plan(j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_word_pmi_eligibility_is_broadcast_and_pair_agg_partial(spark, sf_dir):
    """The PMI scale contract: the eligible-word filter reaches the
    token stream as a broadcast semi-join (never a shuffle of the
    occurrence stream against the vocabulary), and the pair counts
    have a map-side partial aggregation before their exchange."""
    from postgres_cdc_plugin_spark.operators.text import docs_word_pmi

    plan = inspect.physical_plan(docs_word_pmi(spark, sf_dir))
    assert "LeftSemi, BuildRight" in plan, plan
    assert "partial_count" in plan, plan


def test_pca_power_plan_has_no_covariance_blowup(spark, sf_dir):
    """embed_pca_power's scale claim: no d x d covariance relation is
    ever formed — every join in the plan is against a broadcast 1-row
    relation (means / weights / norm), and the only aggregations key
    on dim or nothing. A covariance formulation would show a
    (dim, dim)-keyed exchange."""
    from postgres_cdc_plugin_spark.operators.similarity import embed_pca_power

    plan = inspect.physical_plan(embed_pca_power(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # every hash-aggregate keys on at most one column (dim / vec-level
    # fold), never a composite (dim_a, dim_b) covariance key
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("+- HashAggregate(keys=[") or line.startswith(
            "HashAggregate(keys=["
        ):
            keys = line.split("keys=[", 1)[1].split("]", 1)[0]
            assert keys.count(",") == 0, line


def test_self_repetition_strip_is_shuffle_free(spark, sf_dir):
    """docs_strip_self_repetition's scale claim: the whole rewrite is
    higher-order array expressions over one split(text) — a narrow
    projection at any corpus size. r14: the projection sits behind the
    conditional starved-scan guard (session.spread_scan), so on a
    one-split test input the plan carries EXACTLY ONE exchange — a
    pinned REPARTITION_BY_NUM directly over the scan, not a keyed
    shuffle of derived data — and on an input that already carries
    >= defaultParallelism partitions the guard is an identity and the
    plan is zero-exchange (both arms asserted here)."""
    from postgres_cdc_plugin_spark.operators.dedup import (
        docs_strip_self_repetition,
    )
    from postgres_cdc_plugin_spark.session import spread_scan

    df = docs_strip_self_repetition(spark, sf_dir)
    plan = inspect.physical_plan(df)
    n = inspect.exchange_count(df)
    assert n <= 1, plan
    if n == 1:
        # the one exchange is the starvation guard: an explicit
        # numPartitions repartition (AQE leaves REPARTITION_BY_NUM
        # alone), not a keyed shuffle the operator's algebra needs
        assert "REPARTITION_BY_NUM" in plan, plan
    # the guard itself is an identity on an already-parallel relation
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, par + 1).withColumnRenamed(
        "id", "doc_id"
    )
    assert spread_scan(wide, "doc_id") is wide


def test_url_canonicalize_is_shuffle_free_and_pruned(spark, sf_dir):
    """docs_url_canonicalize is per-row regexp/array work (zero
    exchanges) and reads only the two columns it needs — a scan
    fetching `text` for a URL rewrite would be wrong."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_url_canonicalize

    df = docs_url_canonicalize(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.physical_plan(df)
    schemas = inspect.read_schemas(df)
    assert schemas and all("text" not in s for s in schemas), schemas


def test_url_host_stats_single_aggregation(spark, sf_dir):
    """docs_url_host_stats: one host-keyed aggregation chain. Spark
    plans count+countDistinct as a two-level expand/agg — still a
    bounded number of host-keyed exchanges, never a join or a
    corpus-sized sort."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_url_host_stats

    df = docs_url_host_stats(spark, sf_dir)
    assert inspect.exchange_count(df) <= 2, inspect.physical_plan(df)
    assert "Join" not in inspect.physical_plan(df)


def test_vocab_coverage_topk_is_take_ordered(spark, sf_dir):
    """token_vocab_coverage's vocabulary must come from a
    TakeOrderedAndProject (top-k), never a full sort of the count
    relation, and the vocabulary join must broadcast."""
    from postgres_cdc_plugin_spark.operators.text import token_vocab_coverage

    plan = inspect.physical_plan(token_vocab_coverage(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_audit_has_no_pair_blowup(spark, sf_dir):
    """docs_bloom_dedup_audit: the membership probe is a word-grain
    join against the 512-word sketch — no CartesianProduct and no
    fingerprint-pair join anywhere in the plan."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_bloom_dedup_audit

    df = docs_bloom_dedup_audit(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    # sanity: the audit is one row
    assert df.count() == 1


def test_family_builds_feed_their_consumers(spark, sf_dir):
    """The bench attribution self-check (r7 verdict ask #6): every
    family_build kernel must actually be READ by each of its declared
    consumers — the consumer's physical plan re-derives the same
    canonical plan and picks up the persisted kernel
    (InMemoryTableScan / cached-stage witness). A build whose input
    projection drifts away from a consumer (the r7 docs_minhash_pairs
    2.5x cold-vs-marginal drift: identical values, different canonical
    plan) fails HERE instead of surfacing as a silent per-query bench
    regression. Plan-only: the persist marks register at construction,
    so no kernel needs materializing. localCheckpoint is patched to a
    no-op for the duration — eager checkpoints (part_triangle_counts'
    oriented-edge relation, the iterative loops) would otherwise
    replace the upstream plan with an opaque RDD scan AND execute the
    pipeline during construction; without them the full logical plan
    (and the cache lookup in it) is visible."""
    # patch the CLASSIC subclass — pyspark 4 resolves localCheckpoint
    # there, so a base-class patch never fires
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from postgres_cdc_plugin_spark import registry

    builds = registry.family_builds()
    consumers = registry.family_consumers()
    assert set(consumers) == set(builds)
    q = registry.queries()
    real_ckpt = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
    try:
        for fn in builds.values():
            fn(spark, sf_dir)  # registers the kernel persist marks
        for key, names in consumers.items():
            for name in names:
                plan = inspect.physical_plan(q[name](spark, sf_dir))
                assert (
                    "InMemoryTableScan" in plan
                    or "TableCacheQueryStage" in plan
                ), f"{name} does not read {key}'s cached kernel:\n{plan}"
    finally:
        _DF.localCheckpoint = real_ckpt  # type: ignore[method-assign]
        spark.catalog.clearCache()


def test_audit_and_chain_share_the_kn_keep_plan(spark, sf_dir, monkeypatch):
    """The bench-pair cache contract: the attrition audit's persisted
    kn_ids must stay PLAN-IDENTICAL to the chain's, or the chain
    (which runs right after the audit in the bench's alphabetical
    order) loses its session-cache hit and re-pays the KN scoring pass
    — a +2.6s bench drift when a refactor cut kept_ids' lineage inside
    the audit and silently forked the plans. sameSemantics is exactly
    the CacheManager matching criterion. Both sides are captured from
    the registered queries' own code paths (docs_ingest_chain_audit
    and docs_ingest_chain_contam). localCheckpoint is patched to a
    no-op so the audit-mode lineage cuts don't replace the comparable
    plan with an opaque RDD scan; both pinned relations sit upstream of
    the near-dup stage, so its iterative component labeling is stubbed
    with a lazy projection."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from postgres_cdc_plugin_spark.operators.text import chains

    monkeypatch.setattr(
        dedup,
        "dup_clusters_from",
        lambda spark, pairs: pairs.select(
            F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("cluster_id")
        ),
    )

    seen: dict[str, list] = {"hits": [], "stages": [], "rollup": []}

    def record(name, key, pick, real=None):
        real = real or getattr(chains, name)

        def wrapped(*args, **kwargs):
            out = real(*args, **kwargs)
            seen[key].append(pick(args, out))
            return out

        monkeypatch.setattr(chains, name, wrapped)

    record("_contam_hits_gated", "hits", lambda args, out: out)
    record("ingest_chain_stages", "stages", lambda args, out: out.kn_ids)
    # the audit's rollup over its stage relations is not pinned here:
    # record its kn_ids input without analyzing the seven-branch union
    record(
        "ingest_audit_from", "rollup", lambda args, out: args[1],
        real=lambda *args: args[0],
    )
    real_ckpt = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
    try:
        chains.docs_ingest_chain_audit(spark, sf_dir)
        (hits_audit,), (kn_audit,) = seen["hits"], seen["rollup"]
        assert not seen["stages"]  # the audit walks the chain itself
        chains.docs_ingest_chain_contam(spark, sf_dir)
        (_, hits_chain), (kn_chain,) = seen["hits"], seen["stages"]
        assert kn_audit.sameSemantics(kn_chain), (
            "audit-mode kn_ids plan forked from the chain's — the "
            "bench pair no longer shares one KN scoring pass"
        )
        # the same contract one stage later: the decontam hits relation
        # must be plan-identical between the six-stage chain and the
        # audit, or the bench pair pays the gram-explode + broadcast
        # probe twice (_contam_hits_gated builds from the UNCUT gate
        # plan in both modes for exactly this reason)
        assert hits_audit.sameSemantics(hits_chain), (
            "audit-mode contam hits plan forked from the chain's — "
            "the bench pair no longer shares one decontamination pass"
        )
    finally:
        _DF.localCheckpoint = real_ckpt  # type: ignore[method-assign]
        spark.catalog.clearCache()


def test_ingest_chain_selections_are_ordered_subsets():
    """Every chain is an ordered selection of the one stage list that
    keeps the gate, line dedup and admission; the composers reject
    anything else instead of silently running a different chain."""
    from postgres_cdc_plugin_spark.operators.text import (
        CHAIN_ND_STAGES,
        CHAIN_STAGES,
        INGEST_STAGES,
        check_stages,
    )

    for stages in (CHAIN_STAGES, CHAIN_ND_STAGES, INGEST_STAGES):
        check_stages(stages)
    for bad in (
        ("gopher_gate", "neardup_dedup", "kn_band", "line_dedup",
         "admission"),
        ("gopher_gate", "kn_band", "admission"),
        ("kn_band", "line_dedup", "admission"),
    ):
        with pytest.raises(ValueError):
            check_stages(bad)


def test_audit_side_thread_keeps_the_callers_job_group(spark, sf_dir):
    """docs_ingest_chain_audit materializes the gate verdicts and the
    decontam hits on a second Python thread. That thread must carry
    the caller's local properties: under pinned-thread mode a plain
    thread's jobs run outside the caller's job group, so cancelling the
    group would leave them running."""
    from postgres_cdc_plugin_spark.operators.text import (
        docs_ingest_chain_audit,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ingest-audit", "audit under a caller's job group")
    try:
        docs_ingest_chain_audit(spark, sf_dir).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        spark.catalog.clearCache()
    bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("ingest-audit")
    assert not set(tracker.getJobIdsForGroup(None)) - before


def test_c4_line_filter_is_zero_shuffle(spark, sf_dir):
    """docs_c4_line_filter must stay one narrow projection — split
    binds once, lines and rules are higher-order lambdas: zero
    exchanges, no joins (the docs_gopher_rules bar)."""
    from postgres_cdc_plugin_spark.operators.text import docs_c4_line_filter

    df = docs_c4_line_filter(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.physical_plan(df)
    assert "Join" not in inspect.physical_plan(df)


def test_c4_line_dedup_exchange_budget(spark, sf_dir):
    """docs_c4_line_dedup: exactly the line-key min-struct aggregation
    and the doc-grain rollup shuffle — the keeper relation IS the kept
    relation, so there must be NO join-back of the line relation (the
    r8 rework); the doc-list join broadcasts."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_c4_line_dedup

    df = docs_c4_line_dedup(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert inspect.exchange_count(df) <= 2, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_c4_span_dedup_no_product_and_bounded_exchanges(spark, sf_dir):
    """docs_c4_span_dedup: span-key agg + same-key join-back + covered
    distinct + doc-keyed anti join + rollup — bounded exchanges, no
    product, no full-relation sort."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_c4_span_dedup

    df = docs_c4_span_dedup(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert inspect.exchange_count(df) <= 7, plan
    assert "CartesianProduct" not in plan


def test_inspection_memo_keeps_live_foreign_entries(spark, sf_dir):
    """Memo eviction must remove only entries whose SparkContext has
    STOPPED (r9 advice #3): two concurrently live applications
    alternating plan inspections would otherwise thrash the memo and
    rebuild a cloned session on every call. Simulated with stub
    entries (a second live SparkContext can't exist in one JVM)."""
    from postgres_cdc_plugin_spark.operators.cdc import status_counts
    from postgres_cdc_plugin_spark.plans import inspect as I

    class _StubSC:
        def __init__(self, stopped):
            self._stopped = stopped
            self._jsc = self
        def sc(self):
            return self
        def isStopped(self):
            return self._stopped

    class _StubSession:
        def __init__(self, stopped):
            self.sparkContext = _StubSC(stopped)

    df = status_counts(spark, sf_dir)
    I.wholestage_codegen_spans(df)  # populate the real entry
    key = spark.sparkContext.applicationId
    assert key in I._INSPECT_SESSIONS
    live, dead = _StubSession(False), _StubSession(True)
    I._INSPECT_SESSIONS["app-live"] = live
    I._INSPECT_SESSIONS["app-dead"] = dead
    try:
        I.wholestage_codegen_spans(df)
        assert "app-live" in I._INSPECT_SESSIONS, "live foreign entry evicted"
        assert "app-dead" not in I._INSPECT_SESSIONS, "stopped entry kept"
        assert key in I._INSPECT_SESSIONS
    finally:
        I._INSPECT_SESSIONS.pop("app-live", None)
        I._INSPECT_SESSIONS.pop("app-dead", None)


def test_spread_scan_by_arms(spark, sf_dir):
    """session.spread_scan_by (r15, r14 verdict ask #7): the token
    family's conditional UNPINNED guard. Starved one-split scan ->
    exactly the bare repartition(cols) plan those sites always had
    (hashpartitioning exchange, NOT the REPARTITION_BY_NUM pin the
    r14 calibration measured 2x slower there); already-parallel input
    -> identity (the at-scale arm: no exchange at all); non-scan-rooted
    input -> identity without probing .rdd (probing under AQE would
    eagerly execute upstream stages)."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.session import load, spread_scan_by

    docs = load(spark, sf_dir, "documents").select("doc_id")
    out = spread_scan_by(docs, "doc_id")
    plan = inspect.physical_plan(out)
    assert "hashpartitioning(doc_id" in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan
    # identity on an already-parallel relation
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, par + 1).withColumnRenamed(
        "id", "doc_id"
    )
    assert spread_scan_by(wide, "doc_id") is wide
    # identity (no probe, no shuffle added) on a non-scan-rooted input
    agg = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    assert spread_scan_by(agg, "doc_id") is agg


def test_spread_scan_skips_non_scan_rooted(spark, sf_dir):
    """session.spread_scan: a joined/aggregated/distinct input must
    take the identity arm WITHOUT probing df.rdd — under AQE the probe
    would eagerly execute the upstream shuffle stages at
    plan-construction time. The check reads the analyzed plan's node
    names, so a scan-rooted relation whose column name contains a
    blocked token ('Join') still takes the spread arm (the both-arms
    pin is test_self_repetition_strip_is_shuffle_free)."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.session import load, spread_scan

    docs = load(spark, sf_dir, "documents").select("doc_id")
    agg = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    assert spread_scan(agg, "doc_id") is agg
    joined = docs.join(docs.withColumnRenamed("doc_id", "d2"),
                       docs.doc_id == F.col("d2"))
    assert spread_scan(joined, "doc_id") is joined
    distinct = docs.distinct()
    assert spread_scan(distinct, "doc_id") is distinct
    named = docs.select("doc_id", F.col("doc_id").alias("id_Join_Sort"))
    assert named.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    spread = spread_scan(named, "doc_id")
    assert "REPARTITION_BY_NUM" in inspect.physical_plan(spread)
