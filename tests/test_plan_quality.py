"""Plan-shape guardrails for the headline queries (SURVEY §4: the custom
surface is zero Catalyst rules — so the tests assert Catalyst actually
delivers pushdown/broadcast/shuffle-minimality on our plans).

These run at sf0.001: plan shape is scale-invariant for these properties
(broadcast thresholds are config, not data size, at these dims)."""

from __future__ import annotations

import pytest

import __spark_entry__ as e
from affinity_spark.plans import (
    has_broadcast_join,
    n_exchanges,
    pushed_filters,
)
from affinity_spark.plans.introspect import wholestage_codegen_ids

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Plan-shape assertions need deterministic plans: Spark's cache
    manager substitutes InMemoryRelation for any semantically-equal plan
    cached by an EARLIER test (the dedup family persist()s its shared
    shingle frames), which silently changes exchange counts depending on
    test order. Clear the session cache before each guard."""
    spark.catalog.clearCache()
    yield


def test_q1_filter_pushed_to_scan(spark):
    df = e.q1_pricing_summary(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf
    # scan + one shuffle for the 6-group aggregate, nothing else
    assert n_exchanges(df) == 1
    # collect() executes THIS df's queryExecution (count() would build a new
    # one); AQE then finalizes the plan and codegen span ids appear.
    df.collect()
    assert wholestage_codegen_ids(df), "aggregate must run in codegen"


def test_q5_broadcasts_dimensions(spark):
    df = e.q5_nation_revenue(spark, SF)
    assert has_broadcast_join(df)


def test_q6_single_pass_no_join_shuffle(spark):
    df = e.q6_forecast_revenue(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    # partial agg map-side, final agg single partition: one exchange
    assert n_exchanges(df) == 1


def test_point_get_pushdown(spark):
    df = e.events_point_get(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "event_id" in pf
    assert n_exchanges(df) == 0  # pure scan+filter: no shuffle at all


def test_enrich_join_broadcasts_dim(spark):
    df = e.join_enrich_events(spark, SF)
    assert has_broadcast_join(df)
    assert n_exchanges(df) == 0  # broadcast join: no hash-partition shuffle


def test_compact_latest_single_shuffle(spark):
    df = e.events_compact_latest(spark, SF)
    assert n_exchanges(df) == 1  # one shuffle on the key, max_by partials


def test_topn_no_full_materialization(spark):
    df = e.events_topn_per_key(spark, SF)
    from affinity_spark.plans.introspect import executed_plan

    assert "WindowGroupLimit" in executed_plan(df)


def test_range_join_stays_equi_keyed(spark):
    """The 30-day band join must plan as an equi-join on customer with the
    range as residual — a nested-loop/cartesian here would be quadratic."""
    from affinity_spark.plans.introspect import executed_plan

    plan = executed_plan(e.orders_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_sessionize_single_shuffle(spark):
    assert n_exchanges(e.events_sessionize(spark, SF)) == 1


def test_minhash_verify_joins_broadcast(spark):
    """Candidate verification joins are candidate-count sized — they must
    broadcast, not shuffle the corpus."""
    from affinity_spark.plans.introspect import executed_plan

    plan = executed_plan(e.dedup_minhash_lsh(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pipeline_clean_corpus_uses_lsh_not_allpairs(spark):
    """The composed pipeline must take the LSH scale tier: candidates from
    the band-bucket join, NEVER the all-pairs shingle self-join (that tier
    is dedup_ngram_jaccard, the small-scale verifier). A join keyed on the
    exploded shingle column in this plan means the quadratic path came back.
    """
    import re

    from affinity_spark.plans.introspect import executed_plan

    plan = executed_plan(e.pipeline_clean_corpus(spark, SF))
    for line in plan.splitlines():
        if "Join" in line and re.search(r"\[shingle#\d+", line):
            raise AssertionError(f"shingle-keyed join in composed pipeline: {line}")
    # LSH band join present: the only sort-merge/shuffle joins allowed key on
    # band columns or doc ids, and signatures are map-side (no sig groupBy).
    assert "band_hash" in plan
    assert "HashAggregate" not in "".join(
        l for l in plan.splitlines() if "sig_0#" in l and "Aggregate" in l
    ), "signatures must be map-side array transforms, not explode+groupBy"


def test_pipeline_clean_corpus_shuffle_budget(spark):
    """Round-1 plan had 13 shuffles (all-pairs tier). The LSH rewrite must
    stay within a 8-exchange budget (exact-dedup agg+join, band join,
    verify joins, anti join)."""
    assert n_exchanges(e.pipeline_clean_corpus(spark, SF)) <= 8


def test_minhash_lsh_signatures_mapside(spark):
    """dedup_minhash_lsh signatures come from the zero-shuffle array
    transform: no shingle explode feeding an aggregate."""
    import re

    plan = None
    from affinity_spark.plans.introspect import executed_plan

    plan = executed_plan(e.dedup_minhash_lsh(spark, SF))
    for line in plan.splitlines():
        if "Join" in line and re.search(r"\[shingle#\d+", line):
            raise AssertionError(f"shingle-keyed join in LSH dedup: {line}")


def test_lsh_band_kernel_evaluated_once(spark):
    """The LSH consumers evaluate the band kernel once: candidates come
    from one grouping by bucket. A bucket self-join evaluated it on both
    sides, since a broadcast build side is never reused."""
    import re

    from affinity_spark.plans.introspect import executed_plan

    for df in (e.dedup_minhash_lsh(spark, SF), e.pipeline_clean_corpus(spark, SF)):
        plan = executed_plan(df)
        kernels = re.findall(r"Generate explode\(aggregate\(transform\(shingles#", plan)
        assert len(kernels) == 1, plan


def test_q17_correlated_avg_single_window_shuffle(spark):
    """Q17's correlated scalar subquery folds to ONE window shuffle on
    l_partkey (plus the single-partition final agg) — a naive plan joins
    lineitem against a separately aggregated lineitem (two scans, two
    shuffles on the fact)."""
    df = e.q17_small_quantity_revenue(spark, SF)
    assert n_exchanges(df) <= 2
    pf = " ".join(pushed_filters(df))
    assert "p_brand" in pf and "p_size" in pf  # part filter reaches its scan


def test_q19_disjunction_pushes_to_part_scan(spark):
    """OR-of-ANDs: the part-side disjunction must reach the part scan, and
    the common join key must keep this an equi-join (no nested loop)."""
    from affinity_spark.plans.introspect import executed_plan

    df = e.q19_disjunctive_revenue(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "p_brand" in pf
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q21_exists_shapes_stay_hashed(spark):
    """EXISTS/NOT EXISTS with inequality residuals must execute as hashed
    semi/anti joins on the order key — never a nested loop over the fact."""
    from affinity_spark.plans.introspect import executed_plan

    plan = executed_plan(e.q21_suppliers_kept_waiting(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_training_pipeline_two_shuffles(spark):
    """The composed training pipeline must stay at 2 shuffles: fingerprint
    window + shard window; the final per-pack agg reuses the shard
    partitioning and the hash split adds no exchange."""
    assert n_exchanges(e.pipeline_training_corpus(spark, SF)) <= 2


def test_lsh_search_zero_shuffle_broadcast_probe(spark):
    """Multi-probe LSH read: candidates join against a BROADCAST probe set —
    no hash exchange anywhere before the top-k."""
    from affinity_spark.plans.introspect import executed_plan

    df = e.emb_lsh_search(spark, SF)
    assert n_exchanges(df) == 0
    assert "BroadcastHashJoin" in executed_plan(df)


def _window_specs(plan: str) -> list[list[str]]:
    """Top-level argument lists of every windowspecdefinition(...) in a plan
    string (paren-matched, so nested specifiedwindowframe(...) stays one arg)."""
    specs = []
    i = 0
    marker = "windowspecdefinition("
    while True:
        j = plan.find(marker, i)
        if j < 0:
            break
        k = j + len(marker)
        depth, start, args, buf = 1, k, [], []
        while depth:
            c = plan[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            if depth == 1 and c == "," :
                args.append("".join(buf).strip())
                buf = []
            elif depth:
                buf.append(c)
            k += 1
        if buf:
            args.append("".join(buf).strip())
        specs.append(args)
        i = k
    return specs


def test_timelog_has_no_global_sort_over_raw_events(spark):
    """events_timelog's only unpartitioned window runs over per-hour bucket
    counts; any window ordering raw event rows (event_ms/event_id) must be
    partitioned by the hour bucket."""
    from affinity_spark.plans.introspect import executed_plan

    plan = executed_plan(e.events_timelog(spark, SF))
    specs = _window_specs(plan)
    assert specs, "expected windowspecdefinition nodes in the timelog plan"
    for args in specs:
        # partition columns are the args before the first ordering arg
        part = [a for a in args if " ASC" not in a and " DESC" not in a
                and not a.startswith("specifiedwindowframe")]
        order = [a for a in args if " ASC" in a or " DESC" in a]
        over_events = any("event_ms" in a or "event_id" in a for a in order)
        if over_events and not part:
            raise AssertionError(
                f"unpartitioned window over raw events: {args}")
    # self-check: the guard must actually have seen the events window
    # (a plan with no event-ordered window at all means the query changed
    # shape and this test needs updating, not silently passing)
    assert any(
        any(("event_ms" in a or "event_id" in a) and (" ASC" in a or " DESC" in a)
            for a in args)
        for args in specs
    ), "no window orders raw events — guard is stale"


def test_winnow_pair_join_capped(spark):
    """dedup_winnow_pairs joins only df<=3 fingerprints — the plan must be
    hash joins end to end (no nested loop) within 3 shuffles."""
    from affinity_spark.plans.introspect import executed_plan

    df = e.dedup_winnow_pairs(spark, SF)
    assert n_exchanges(df) <= 3
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_retrieval_family_reads_postings_not_documents(spark):
    """The r5 maintained-index contract: bm25 / tfidf / phrase plans must
    contain ZERO scans of the documents table (all corpus statistics come
    from the materialized postings KeyedTables), tfidf within 5
    postings-sized FINAL-plan shuffles (was 9 with ~3 corpus scans), and
    the bm25 query-term filter pushed into the postings scan.

    Shuffles are counted on the final AQE plan section only: the
    plan-string's Initial Plan section carries superseded exchange ids
    whose count varies with session partitioning."""
    import re

    from affinity_spark.plans.introspect import executed_plan, formatted_plan

    def final_exchanges(df) -> int:
        final = executed_plan(df).split("== Initial Plan ==")[0]
        return len(
            set(
                re.findall(
                    r"Exchange (?:hash|range|Single)[^\n]*plan_id=(\d+)", final
                )
            )
        )

    for q, budget in (
        ("docs_tfidf_pairs", 5),
        ("docs_bm25_search", 5),
        ("docs_phrase_search", 5),
    ):
        df = getattr(e, q)(spark, SF)
        df.collect()
        plan = formatted_plan(df)
        assert "documents.parquet" not in plan, q
        assert final_exchanges(df) <= budget, (q, final_exchanges(df))

    bm25 = e.docs_bm25_search(spark, SF)
    bm25.collect()
    assert any("term" in p for p in pushed_filters(bm25))


def test_ivf_index_served_search_zero_shuffle_partition_pruned(spark):
    """The r8 maintained-index contract: emb_ivf_search is a read of the
    committed IVFIndex — ZERO exchanges (scan → filter → project → top-k),
    the cell probe pruned AT THE SCAN (PartitionFilters on the hive cell
    dirs), and no scan of the raw embeddings parquet in the final plan."""
    import re

    import __spark_entry__ as e
    from affinity_spark.plans.introspect import executed_plan, formatted_plan

    sf = "/root/testdata/sf0.001"
    df = e.queries()["emb_ivf_search"](spark, sf)
    df.collect()
    final = executed_plan(df).split("== Initial Plan ==")[0]
    exchanges = set(
        re.findall(r"Exchange (?:hash|range)[^\n]*plan_id=(\d+)", final)
    )
    assert len(exchanges) == 0, final
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[(?P<f>[^\]]*)\]", plan)
    assert m and "cell" in m.group("f"), plan
    assert "embeddings.parquet" not in final  # served from the index tables


def test_unicode_scrub_is_pure_projection(spark):
    """Zero shuffles: the hygiene pass is repair chain + control strip
    (codegen'd) + one ArrowEvalPython for NFC, all map-side."""
    import __spark_entry__ as e
    from affinity_spark.plans.introspect import executed_plan, n_exchanges

    df = e.queries()["docs_unicode_scrub"](spark, "/root/testdata/sf0.001")
    df.collect()
    assert n_exchanges(df) == 0
    assert "ArrowEvalPython" in executed_plan(df)  # NFC, Arrow-batched


def test_quality_family_served_from_store_not_rederived(spark):
    """The r10 maintained-index contract (sixth family): the ensemble and
    bucket reads are projections of the committed QualityStore — no scan
    of the documents table, NO fp window (the corpus-wide Window node the
    pre-store derivation carried), no model (re)training anywhere in the
    plan, and a final-plan shuffle budget of ~2 (cutoff derivation reads
    are value-domain-sized; the pre-store ensemble carried 21)."""
    import re

    import __spark_entry__ as e
    from affinity_spark.plans.introspect import executed_plan, formatted_plan

    def final_exchanges(df) -> int:
        final = executed_plan(df).split("== Initial Plan ==")[0]
        return len(
            set(
                re.findall(
                    r"Exchange (?:hash|range|Single)[^\n]*plan_id=(\d+)", final
                )
            )
        )

    for q, budget in (
        ("docs_filter_ensemble", 2),
        ("docs_ccnet_buckets", 2),
        ("docs_quality_signals", 1),
        ("docs_lm_bits_kn", 1),
        ("docs_ccnet_perlang", 2),
    ):
        df = e.queries()[q](spark, SF)
        df.collect()
        plan = formatted_plan(df)
        assert "documents.parquet" not in plan, q
        assert "Window" not in executed_plan(df), q
        assert final_exchanges(df) <= budget, (q, final_exchanges(df))
        # every scan in the plan reads the committed store, nothing else
        files = df.inputFiles()
        assert files and all("affinity_quality_" in f for f in files), q


def test_series_knn_is_broadcast_topk(spark):
    """events_series_knn's search stage must be a 1-row broadcast of the
    query series + TakeOrderedAndProject — never a shuffle of the corpus
    series for the distance/top-k itself. The only exchanges are the
    (user, bin) aggregate chain that derives the series."""
    from affinity_spark.plans.introspect import formatted_plan

    df = e.events_series_knn(spark, SF)
    df.collect()
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the 1-row query-series join broadcasts (nested-loop on purpose:
    # there is no join key — it's a scalar-vector attach)
    assert "BroadcastNestedLoopJoin" in plan
    # no exchange AFTER the broadcast attach (formatted plans print root
    # first, so text above the join line is everything executed after
    # it): distances + top-k are map-side, TakeOrderedAndProject does
    # the global k-merge without a shuffle
    assert "Exchange" not in plan.split("BroadcastNestedLoopJoin", 1)[0]


def test_cluster_family_served_from_store_not_rederived(spark):
    """The r13 verdict-#1 contract (the QualityStore replan applied to the
    batch cluster-membership family): dedup_cluster_canonical,
    dedup_quality_canonical and docs_leakage_free_split serve membership
    from the committed ClusterStore assignment table — NO shingle
    derivation (Generate/explode) anywhere in the serving plan, and the
    only documents.parquet read left is quality_canonical's column-pruned
    (doc_id, n_chars) side."""
    import __spark_entry__ as e
    from affinity_spark.plans.introspect import formatted_plan

    qs = e.queries()
    for q, docs_ok in (
        ("dedup_cluster_canonical", False),
        ("dedup_quality_canonical", True),
        ("docs_leakage_free_split", False),
    ):
        df = qs[q](spark, SF)
        df.collect()
        plan = formatted_plan(df)
        assert "Generate" not in plan, q  # no shingle explode in the read
        files = df.inputFiles()
        assert any("affinity_clusters_" in f for f in files), q
        if docs_ok:
            # docs side is pruned to the id + length columns only
            assert "ReadSchema" in plan
            import re

            docs_scans = [
                s
                for s in re.findall(r"ReadSchema: struct<[^>]*>", plan)
                if "n_chars" in s
            ]
            assert docs_scans and all(
                set(re.findall(r"(\w+):", s.split("struct<")[1]))
                <= {"doc_id", "n_chars"}
                for s in docs_scans
            ), (q, docs_scans)
        else:
            assert "documents.parquet" not in plan, q


def test_ohlc_bars_single_exchange_partial_agg(spark):
    """OHLC bars must be one partial-agg + one (type, day) exchange —
    min_by/max_by aggregate map-side (partial_min_by in the plan), never
    a per-bar sort or first/last window."""
    from affinity_spark.plans.introspect import executed_plan

    df = e.queries()["events_ohlc_bars"](spark, SF)
    df.collect()
    plan = executed_plan(df)
    assert plan.count("Exchange hashpartitioning") <= 1 or (
        # AQE prints the final plan twice (initial + adaptive); count
        # distinct plan_ids instead of raw occurrences
        len(set(__import__("re").findall(r"Exchange hashpartitioning\([^)]*plan_id=(\d+)", plan))) <= 1
    ), plan
    assert "partial_min_by" in plan, plan
    assert "Window" not in plan and "Sort" not in plan.replace("SortAggregate", ""), plan


def test_scd2_single_window_no_self_join(spark):
    """SCD2 materialization is ONE key-partitioned window — a single
    user_id exchange, no join (the naive next-change build self-joins the
    changelog)."""
    import re

    from affinity_spark.plans.introspect import executed_plan

    df = e.queries()["events_scd2_intervals"](spark, SF)
    df.collect()
    plan = executed_plan(df)
    assert len(set(re.findall(r"Exchange hashpartitioning\([^)]*plan_id=(\d+)", plan))) <= 1, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_cluster_stats_served_from_store(spark):
    """The dedup-yield report reads ONLY the committed assignment table:
    no Generate (shingle) stage, no documents scan."""
    from affinity_spark.plans.introspect import formatted_plan

    df = e.queries()["dedup_cluster_stats"](spark, SF)
    df.collect()
    plan = formatted_plan(df)
    assert "Generate" not in plan, plan
    assert "documents.parquet" not in plan, plan
    assert any("affinity_clusters_" in f for f in df.inputFiles())


def test_hybrid_rrf_branches_stay_k_sized(spark):
    """The RRF fusion joins run over top-k-limited inputs: every join in
    the plan is a broadcast join (nothing corpus-sized reaches the
    fusion), and the BM25 branch reads the postings index, not the
    documents table."""
    from affinity_spark.plans.introspect import executed_plan

    df = e.queries()["docs_hybrid_rrf_search"](spark, SF)
    df.collect()
    plan = executed_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "documents.parquet" not in plan, plan


def test_recall_family_single_pass_no_intersection_join(spark):
    """The ANN-recall evaluations (bitq/matryoshka/srp/lsh) intersect two
    top-10 sets drawn from the SAME scored frame: membership is decided
    by rank columns over one shared exchange, so the executed plan must
    not contain an Inner join (the old shape re-ran the corpus crossJoin
    once per branch and shuffle-joined the two top-10 sets)."""
    from affinity_spark.plans.introspect import executed_plan

    for name in (
        "emb_bitq_recall",
        "emb_matryoshka_recall",
        "emb_srp_recall",
        "emb_lsh_recall",
    ):
        df = e.queries()[name](spark, SF)
        df.collect()
        plan = executed_plan(df)
        assert "Join type: Inner" not in plan, (name, plan)
