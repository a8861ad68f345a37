"""Physical-plan assertions (the 100 TB checklist): filters reach the
parquet scan, column pruning holds, small dims broadcast, top-k avoids a
global sort, aggregation is partial→final. These are the properties that
decide whether a plan survives a 1000× scale-up, asserted rather than
eyeballed."""

from __future__ import annotations

import re

from myhadoop_spark import registry
from tests.conftest import SF_SMOKE


def _explain(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    """The query's physical plan TEXT — including the plan of every
    frame the query materializes via localCheckpoint along the way.

    r13: several queries materialize intermediates (lineage
    truncation / sampling-rerun fixes), which truncates the final
    frame's explain() to `Sort <- Exchange <- Scan ExistingRDD`; the
    computation the plan tests pin (join strategies, no cartesian, no
    Python) lives in the checkpointed subplans, so capture each one as
    it is built. Assertions therefore cover the WHOLE composition."""
    try:  # Spark 4: concrete instances are the classic subclass
        import pyspark.sql.classic.dataframe as _dfmod
    except ImportError:  # pragma: no cover — Spark 3 layout
        import pyspark.sql.dataframe as _dfmod

    plans: list[str] = []
    orig = _dfmod.DataFrame.localCheckpoint

    def capture(self, *a, **k):
        plans.append(_explain(self))
        return orig(self, *a, **k)

    _dfmod.DataFrame.localCheckpoint = capture
    try:
        df = registry.get(name).fn(spark, SF_SMOKE)
    finally:
        _dfmod.DataFrame.localCheckpoint = orig
    plans.append(_explain(df))
    return "\n".join(plans)


def test_filter_proj_pushdown_and_pruning(spark):
    """Filter pushdown and projection pruning, read on the gated agg_q1:
    its shipdate predicate reaches the parquet scan and the scan reads
    only the columns the aggregate needs."""
    plan = plan_of(spark, "agg_q1")
    pushed = re.search(r"PushedFilters: \[(.+?)\]", plan)
    assert pushed and "LessThanOrEqual(l_shipdate" in pushed.group(1), plan
    schema = re.search(r"ReadSchema: struct<(.+?)>", plan)
    assert schema, plan
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    # the 6 needed columns only — not the whole lineitem table
    assert cols <= {"l_quantity", "l_extendedprice", "l_discount",
                    "l_returnflag", "l_linestatus", "l_shipdate"}, cols


def test_join_multi_broadcasts_dims(spark):
    plan = plan_of(spark, "join_multi")
    assert plan.count("BroadcastHashJoin") >= 2, plan  # nation + region
    # the fact-side spine must NOT be a cartesian/broadcast-nested-loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan, f"global sort!\n{plan}"


def test_agg_is_partial_final(spark):
    plan = plan_of(spark, "agg_q1")
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "partial_" in plan, plan


def test_wc_is_partial_count(spark):
    plan = plan_of(spark, "wc")
    assert "partial_count" in plan, plan


def test_semi_anti_are_semi_joins(spark):
    plan = plan_of(spark, "semi_anti_join")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_pandas_udf_is_arrow(spark):
    """All three Python stages of the battery are Arrow-batched — the
    scalar UDF, the GROUPED_AGG UDAF, and the applyInPandas grouped
    map — never row-at-a-time; the two grouped pandas branches hang off
    the SAME o_custkey exchange (re-planned unchained in r3: no
    Python→Python task pipeline), so the whole battery still needs just
    one exchange — the reassembly join is co-partitioned."""
    plan = plan_of(spark, "pandas_udf_score")
    assert "ArrowEvalPython" in plan, plan      # scalar pandas UDF
    # GROUPED_AGG pandas UDAF (node renamed across Spark versions)
    assert ("ArrowAggregatePython" in plan
            or "AggregateInPandas" in plan), plan
    assert "FlatMapGroupsInPandas" in plan, plan  # applyInPandas
    assert "BatchEvalPython" not in plan, plan
    # two branch exchanges on o_custkey (column pruning makes the
    # subtrees differ, so ReuseExchange can't merge them — the price of
    # unchaining the Python stages; both hash the same key) and no
    # third exchange for the reassembly join
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n <= 2, f"{n} exchanges\n{plan}"
    assert plan.count("hashpartitioning(o_custkey") >= 2, plan


def test_window_battery_two_exchanges(spark):
    """The 14-column window battery uses two sort keys (status, custkey)
    → exactly two exchanges; the three custkey windows share one sort."""
    plan = plan_of(spark, "window_fns")
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n <= 2, f"{n} exchanges\n{plan}"


def test_doc_metrics_is_narrow(spark):
    """Per-document text features are one narrow codegen pass. On the
    single-split fixture doc_metrics reads the load_wide checkpoint
    barrier (Scan ExistingRDD — the materialized round-robin widening;
    absent on multi-split data); it may not hash-shuffle or
    drop into Python. r13: plan_of now surfaces the widening
    checkpoint's own subplan, whose single round-robin repartition IS
    the sanctioned barrier — only keyed (hash/range) exchanges count
    as shuffles here."""
    plan = plan_of(spark, "doc_metrics")
    # r14 (ADVICE r13): discount EXACTLY the one sanctioned
    # round-robin barrier (the load_wide widening checkpoint) —
    # a blanket subtraction would also forgive an unintended
    # round-robin repartition introduced inside the query itself
    n_rr = len(re.findall(r"Arguments: roundrobinpartitioning",
                          plan, re.IGNORECASE))
    assert n_rr <= 1, f"{n_rr} round-robin exchanges\n{plan}"
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan)) - n_rr
    assert n_exchange == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan, plan


def test_media_decode_is_arrow_batched(spark):
    """The multimodal decode path must run through Arrow mapInPandas in
    executors — never a driver collect or row-at-a-time Python."""
    plan = plan_of(spark, "media_features")
    assert ("MapInPandas" in plan or "PythonMapInArrow" in plan
            or "ArrowEvalPython" in plan), plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_minhash_no_cartesian(spark):
    plan = plan_of(spark, "dedup_minhash")
    assert "CartesianProduct" not in plan, plan


def test_embed_neardup_no_cartesian_and_pruned(spark):
    """Near-dup must candidate-join on (table, bucket) — never an
    all-pairs product of the corpus."""
    plan = plan_of(spark, "embed_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_range_join_is_equi_not_nested_loop(spark):
    """The bucketized range join must compile to a hash/merge equi-join
    on the bucket id — never the nested-loop plan naive BETWEEN gets."""
    plan = plan_of(spark, "range_join_hist")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sessionize_single_shuffle(spark):
    """Gaps-and-islands sessionization: one shuffle on user_id feeds both
    window passes and the final aggregation."""
    plan = plan_of(spark, "sessionize")
    import re
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, f"{n_exchanges} exchanges\n{plan}"


def test_sampling_is_narrow(spark):
    """Hash sampling and split assignment are pure filters/projections —
    zero shuffles. (The declared `sampling` battery adds the stratified
    window, whose single shuffle is asserted separately below.)"""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from myhadoop_spark.catalog import load
    from myhadoop_spark.functions.text import hash_bucket

    docs = load(spark, SF_SMOKE, "documents")
    b = hash_bucket(F.col("doc_id"))
    for df in (
        docs.filter(b < 20).select("doc_id", "lang"),
        docs.select("doc_id", F.when(b < 80, "train").when(b < 90, "val")
                    .otherwise("test").alias("split")),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "Exchange" not in buf.getvalue(), buf.getvalue()


def test_corpus_prep_single_shuffle(spark):
    """The composed prep pipeline's only wide operation is the dedup
    window on md5(text)."""
    plan = plan_of(spark, "corpus_prep")
    import re
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, f"{n_exchanges} exchanges\n{plan}"


def test_load_wide_is_noop_on_multisplit_input(spark, tmp_path_factory):
    """catalog.load_wide widens ONLY a narrower-than-parallelism scan:
    on multi-file input (the real-scale shape) it must add nothing —
    the 100 TB plan stays shuffle-free."""
    import contextlib
    import io

    from myhadoop_spark.catalog import load, load_wide

    par = spark.sparkContext.defaultParallelism
    wide_dir = tmp_path_factory.mktemp("wide_scan")
    (load(spark, SF_SMOKE, "documents").repartition(par)
     .write.mode("overwrite").parquet(str(wide_dir / "documents.parquet")))
    df = load_wide(spark, str(wide_dir), "documents")
    assert df.rdd.getNumPartitions() >= par
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()
    # and the fixture path (single split) does widen
    narrow = load_wide(spark, SF_SMOKE, "documents")
    assert narrow.rdd.getNumPartitions() >= par


def test_sort_full_is_range_partitioned(spark):
    """sort_full must compile to sampled range partitioning + local sort
    (the scalable total-order form), NOT TakeOrdered (the top-k
    shape) and NOT a single-partition global sort."""
    plan = plan_of(spark, "sort_full")
    assert "rangepartitioning" in plan.lower(), plan
    assert "TakeOrdered" not in plan, plan


def test_sort_full_total_order(spark):
    """Concatenating output partitions in order IS the total order —
    verified on the collected output (driver hash check alone can't prove
    ordering since the harness canonicalizes row order)."""
    rows = registry.get("sort_full").fn(spark, SF_SMOKE).collect()
    keys = [(-r["l_extendedprice"], r["l_orderkey"], r["l_linenumber"])
            for r in rows]
    assert keys == sorted(keys)
    assert len(keys) == len(set(keys)), "tie-break key not unique"


def test_udtf_is_arrow(spark):
    """Python UDTF evaluates through Arrow (ArrowEvalPythonUDTF), not
    row-at-a-time BatchEvalPython — closing the last non-Arrow Python
    node in the declared plans (r3)."""
    plan = plan_of(spark, "udtf_tokens")
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_unimax_select_plan_shape(spark):
    # the r9 gated query: alloc (k language rows) must BROADCAST into
    # the selection join; no cartesian anywhere; no Python UDFs — the
    # whole pipeline stays JVM-side
    plan = plan_of(spark, "unimax_select")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # r10 scale fix: the corpus-side cumulative window partitions by
    # (lang, _band) — never by lang alone (the single-reducer-per-
    # language hole VERDICT r9 #1 flagged)
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_band" in s for s in specs), \
        f"no (lang, _band)-partitioned window:\n{plan}"


def test_interval_overlap_plan_shape(spark):
    # bucketized equi-join — never a nested loop over interval pairs
    plan = plan_of(spark, "interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_langid_predict_plan_shape(spark):
    # r10: weight vectors broadcast into the scoring join; the whole
    # train+score pipeline stays JVM-side, no cartesian anywhere
    plan = plan_of(spark, "langid_predict")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_domain_cap_plan_shape(spark):
    # r10: canonicalization is narrow projections; survivor pick is a
    # partial-aggregable min(struct) (HashAggregate, not a window over
    # the corpus); the cap's count table JOINS back — no Python, no
    # cartesian
    plan = plan_of(spark, "url_domain_cap")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_curate_mix_plan_shape(spark):
    # r10 composition: four chained stages, still no cartesian and no
    # Python anywhere; the unimax alloc join broadcasts
    plan = plan_of(spark, "curate_mix")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ppjoin_pairs_plan_shape(spark):
    # r10: prefix candidates must equi-join on (gram, source) — never
    # an all-pairs product; verify joins are equi on doc ids
    plan = plan_of(spark, "ppjoin_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_r11_curation_queries_no_cartesian_no_python(spark):
    """The r11 curation differentials: no cartesian products beyond
    the sanctioned broadcast-of-a-stats-row shape, no row-at-a-time
    Python, no data-sized global window."""
    for name in ("quality_budget", "curate_lines", "domain_quality",
                 "fuzzy_decontam"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        assert "BatchEvalPython" not in plan, f"{name}:\n{plan}"


def test_budget_select_offsets_broadcast(spark):
    """quality_budget's band-offset table rides a broadcast join back
    into the corpus (never collected) and the only windows are the
    bounded offsets prefix + the per-band boundary window."""
    plan = plan_of(spark, "quality_budget")
    assert "BroadcastHashJoin" in plan, plan
