"""Results must be configuration-independent: AQE off, different shuffle
partition counts, and broadcast disabled all change the PHYSICAL plan but
never the result (the determinism conventions guarantee it).

The query list deliberately includes every operator whose implementation
leans on physical placement: win_ntile_dist (distributed global rank —
correct wherever the sampled range boundaries fall), graph_pagerank
(iterative scaled-integer — aggregation-order-free by construction),
llm_pack_sequences (sub-sharded packing windows), and the broadcast-heavy
join_multiway.
"""

from __future__ import annotations

import pytest

from iot_data_pipeline_spark.operators import (
    analytics,
    llm,
    maintenance,
    relational,
    reshape,
    skew,
)

CASES = [
    ("spark.sql.adaptive.enabled", "false"),
    ("spark.sql.shuffle.partitions", "3"),
    ("spark.sql.autoBroadcastJoinThreshold", "-1"),
]

QUERIES = {
    "join_multiway": relational.join_multiway,
    "win_ntile_dist": reshape.win_ntile_dist,
    "graph_pagerank": maintenance.graph_pagerank,
    "llm_pack_sequences": llm.llm_pack_sequences,
    # as-of join: tie-breaking must come from the declared sort keys, not
    # from whatever order a partition happened to deliver rows in
    "join_asof_event": relational.join_asof_event,
    # iterative min-label propagation: convergence must not depend on how
    # edges are partitioned across the label-join shuffles
    "llm_dedup_clusters": llm.llm_dedup_clusters,
    # distributed prefix sum over the day spine feeding cum_users
    "evt_cumulative_users": analytics.evt_cumulative_users,
    # keep-first over the span-digest window: dup flags must come from the
    # declared (doc_id, chunk_idx) order, not partition delivery order
    "llm_span_dedup": llm.llm_span_dedup,
    # bucketed co-located join: the result must not depend on whether the
    # planner consumes the bucket layout (AQE off / broadcast off / small
    # shuffle counts all change which path runs)
    "join_bucketed_colocated": relational.join_bucketed_colocated,
    # vocab-broadcast scorer: with broadcast disabled the token⋈vocab join
    # degrades to SMJ on a Zipf-skewed key — values must be identical
    "llm_unigram_rarity": llm.llm_unigram_rarity,
    # scalar MAX subquery over the FLOOR-exact revenue CTE: the max-tie
    # winner must be partitioning-independent
    "sql_entry_tpch_q15": relational.sql_entry_tpch_q15,
    # IVF+PQ refinement: batch-local ADC top-k feeds a global candidate
    # window — the final top-10 must not depend on Arrow batch boundaries
    # or on whether the re-rank join broadcasts
    "llm_sim_pq": llm.llm_sim_pq,
    # derived-partsupp 6-table profit join: with broadcast disabled every
    # dim degrades to SMJ and the 4-row stripe spine must still produce
    # identical rows under any partitioning
    "sql_entry_tpch_q9": relational.sql_entry_tpch_q9,
    # CMS sketch: bucket counts are partial+final sums — estimates must be
    # identical whether 3 or 32 shuffle partitions carried the partials
    "agg_countmin": reshape.agg_countmin,
    # graph ANN: sharded layer-1 kNN build (multi-round hash buckets →
    # top-kg merge), degree-capped symmetrization, and fused 2-hop beam
    # search with driver-side frontier state — the visited set and final
    # top-10 must not depend on partitioning, AQE, or broadcast choices
    "llm_sim_hnsw": llm.llm_sim_hnsw,
    # runtime Bloom prefilter: the bitset literal is built from a driver
    # collect — the final aggregate must be identical whether the exact
    # join broadcasts or shuffles, and under AQE re-planning
    "join_bloom_prefilter": relational.join_bloom_prefilter,
    # two-phase bounded top-k: the partial prune groups on
    # spark_partition_id() — literally the physical placement — so ranks
    # must be identical under any partition count or AQE choice
    "skew_topk_bounded": skew.skew_topk_bounded,
    # BPE training (r11): each round's pair-count argmax is a distributed
    # agg + TakeOrdered — the learned merge TABLE (and therefore every
    # downstream token count) must be identical under any partitioning,
    # AQE re-planning, or join strategy
    "llm_bpe_train": llm.llm_bpe_train,
    # ACID MERGE (r11): the stats-prune collect, the key-range rewrite
    # (repartitionByRange boundaries!) and the full-outer merge join must
    # produce an identical on-disk snapshot whatever the physical config —
    # file LAYOUT may differ, values may not
    "acid_merge_snapshot": maintenance.acid_merge_snapshot,
    # declared partitions (r16): the pv-splitting Arrow writer's file
    # boundaries move with range-partitioner choices, but the recorded
    # pv entries, the pv-first pruning, and the read-back rows may not
    "acid_partition_pruning": maintenance.acid_partition_pruning,
    # byte-level BPE (r16): hex-byte pair counts are distributed sums —
    # the learned merge trajectory must be identical under any
    # partitioning, AQE re-planning, or join strategy
    "llm_bpe_bytelevel": llm.llm_bpe_bytelevel,
}


@pytest.mark.parametrize("qname", sorted(QUERIES))
@pytest.mark.parametrize("conf_key,conf_val", CASES)
def test_results_invariant_to_physical_config(
    spark, sf_dir, qname, conf_key, conf_val
):
    fn = QUERIES[qname]
    spark.catalog.clearCache()
    baseline = {tuple(r) for r in fn(spark, sf_dir).collect()}
    prev = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, conf_val)
        spark.catalog.clearCache()  # don't serve the perturbed run from cache
        perturbed = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set(conf_key, prev)
        spark.catalog.clearCache()
    assert perturbed == baseline


# --- registry-wide hostile-default smoke (round-3 verdict item 4) ---------
#
# The driver imports __spark_entry__ from an arbitrary cwd into a session
# whose defaults we don't control. entry() has always been smoked that way;
# this pins the same property for a registry sample: every query must
# self-pin its determinism confs (session.prepare), so a hostile session
# timezone plus a /tmp working directory must not change a single value.
# Sample is weighted toward timestamp-emitting plans, where a TZ leak
# would actually bite.

TZ_SMOKE_SAMPLE = [
    "win_sessionize",      # timestamp session bounds (r3 driver-FAIL id)
    "win_lag_lead",        # lag/lead over event time
    "agg_time_window",     # tumbling window timestamps
    "iot_downsample",      # time-bucketed averages
    "evt_retention",       # week-boundary date arithmetic
    "evt_dau",             # per-day distincts
    "evt_latest_snapshot", # max-ts dedup
    "fn_date_suite",       # date/timestamp scalar functions
    "join_asof_event",     # event-time as-of join
    "sink_zorder_layout",  # datediff-derived Morton key + timestamp box read
    "join_dpp_partitioned",  # year() partition values derived from timestamps
    "sort_limit",          # control: no timestamps at all
]


def _entry_queries():
    import importlib.util
    import os as _os

    path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    spec = importlib.util.spec_from_file_location("_tz_smoke_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.queries()


@pytest.mark.parametrize("qname", TZ_SMOKE_SAMPLE)
def test_registry_survives_hostile_tz_and_cwd(spark, sf_dir, qname):
    import os
    import tempfile

    fn = _entry_queries()[qname]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    # repr keeps tzinfo: a naive-vs-aware or shifted timestamp must FAIL
    base = sorted(tuple(map(repr, r)) for r in fn(spark, sf_dir).collect())
    cwd = os.getcwd()
    try:
        os.chdir(tempfile.mkdtemp(prefix="tz_smoke_"))
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.catalog.clearCache()
        hostile = sorted(
            tuple(map(repr, r)) for r in fn(spark, sf_dir).collect()
        )
    finally:
        os.chdir(cwd)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.catalog.clearCache()
    assert hostile == base


def test_python_workers_import_package_from_foreign_cwd(tmp_path):
    """Launch a FRESH driver process from a foreign cwd (new JVM, so the
    Python workers' import path owes nothing to the repo checkout) and run
    a mapInPandas query end-to-end. Pins the addPyFile package shipping in
    ``session.prepare``: without it every pandas-UDF closure fails on the
    workers with ModuleNotFoundError when the driver runs outside the
    repo — exactly how the external driver invokes ``__spark_entry__``."""
    import os
    import subprocess
    import sys
    import textwrap

    from tests.conftest import SF_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "entrymod", {os.path.join(repo, "__spark_entry__.py")!r})
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .appName("foreign_cwd_smoke")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .getOrCreate())
        rows = m.queries()["mm_image_ahash"](spark, {SF_DIR!r}).collect()
        assert rows, "empty result"
        print("WORKER_IMPORT_OK", len(rows))
        spark.stop()
        """
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)
    }
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "WORKER_IMPORT_OK 500" in run.stdout


ANSI_SMOKE_SAMPLE = [
    "project_cast_arith",  # double casts + arithmetic projection
    "fn_try_arith",        # explicit try_* tier (semantics-identical anyway)
    "fn_math_suite",       # pow/log/trig edges
    "sql_entry_tpch_q1",   # agg arithmetic over lineitem
    # r10 (r9 ADVICE): the CI-visible gate was a 4-id sample while the
    # full-registry evidence lived offline; widened toward the remaining
    # cast/arith-heavy surfaces so the in-suite A/B covers every family
    # that touches ANSI's error edges (overflow, div-zero, lax casts,
    # date arith, string→number parsing). The FULL-registry sweeps (both
    # SFs) also run under the pin every round — recorded in NOTES.
    "fn_date_arith",       # date/interval arithmetic, add_months edges
    "fn_bitwise_trig",     # bit ops + trig domain edges
    "agg_stats",           # stddev/var/skew agg arithmetic
    "fn_null_suite",       # null-propagating casts and comparisons
    "fn_str_to_map",       # string parsing → typed map values
    "iot_anomaly",         # z-score arithmetic incl. /stddev (div-zero edge)
    "llm_token_count",     # length arithmetic over text
    "agg_countmin",        # hash-mod arithmetic (overflow edge)
]


@pytest.mark.parametrize("qname", ANSI_SMOKE_SAMPLE)
def test_registry_self_pins_ansi_semantics(spark, sf_dir, qname):
    """Every oracle attestation was earned under ANSI-on (the Spark 4
    default). A legacy driver session (ansi=false: silent overflow wrap,
    null div-zero, lax casts) must not be able to flip arithmetic/cast
    semantics under a registered query — ``session.prepare`` pins
    spark.sql.ansi.enabled=true at query entry (round 9)."""
    fn = _entry_queries()[qname]
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.catalog.clearCache()
    base = sorted(tuple(map(repr, r)) for r in fn(spark, sf_dir).collect())
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.catalog.clearCache()
        hostile = sorted(
            tuple(map(repr, r)) for r in fn(spark, sf_dir).collect()
        )
        # prepare() must have re-pinned the conf during the hostile run
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.catalog.clearCache()
    assert hostile == base


def test_scoped_conf_restores_on_exit_and_on_error(spark):
    """``session.scoped_conf`` sets its confs for the block only and puts
    the prior values back whether the block returns or raises."""
    from iot_data_pipeline_spark.session import scoped_conf

    key_a, key_b = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    before = {k: spark.conf.get(k) for k in (key_a, key_b)}
    confs = {key_a: "7", key_b: "false"}
    with scoped_conf(spark, confs):
        assert {k: spark.conf.get(k) for k in confs} == confs
    assert {k: spark.conf.get(k) for k in confs} == before
    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, confs):
            assert spark.conf.get(key_a) == "7"
            raise RuntimeError("body failed")
    assert {k: spark.conf.get(k) for k in confs} == before
