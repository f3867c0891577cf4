"""Facade test: the three entry points through one Engine object."""

from __future__ import annotations

from iot_data_pipeline_spark.engine import Engine
from iot_data_pipeline_spark.functions.scalar_suites import _write_csv_fixture


def test_engine_facade(spark, sf_dir, tmp_path):
    eng = Engine(spark)

    # entry point 1: ETL
    out = str(tmp_path / "etl_out")
    eng.ingest_csv(_write_csv_fixture(), out)
    assert spark.read.parquet(out).count() == 4

    # catalog + entry point 3: SQL
    eng.register_tables(sf_dir, names=("lineitem", "orders"))
    n = eng.sql("SELECT count(*) AS c FROM lineitem").first()["c"]
    assert n == 6000

    # named operator library
    top = eng.query("sort_limit", sf_dir)
    assert top.count() == 10

    # streaming surfaces
    assert eng.stream_events(sf_dir).count() == 1000
    sensor = eng.sensor_stream(devices=2, rows_per_batch=5)
    assert sensor.isStreaming and "temperature" in sensor.columns


def test_engine_default_sf_dir(spark, sf_dir):
    """The documented usage — register_tables then query(name) with no
    explicit directory — must work; querying with neither raises."""
    from iot_data_pipeline_spark.engine import Engine

    import pytest

    eng = Engine(spark)
    with pytest.raises(ValueError, match="sf_dir"):
        eng.query("agg_count_star")
    eng.register_tables(sf_dir, names=("nation",))
    assert eng.query("agg_count_star").count() == 1


def test_verify_local_type_parity_flags_hugeint_and_decimal():
    """The local gate must be at least as strict as the driver's
    type-sensitive hash (round-3 verdict item 2): an uncast integer SUM
    (HUGEINT in DuckDB) or a DECIMAL-vs-DOUBLE divergence is a failure
    even when every value matches."""
    import importlib.util
    import os

    import duckdb

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "verify_local.py",
    )
    spec = importlib.util.spec_from_file_location("_vl", path)
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)

    con = duckdb.connect()
    q = "SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)"
    probs = vl._oracle_type_problems(con, q, ["s"], ["bigint"])
    assert probs and "HUGEINT" in probs[0]
    fixed = "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)"
    assert vl._oracle_type_problems(con, fixed, ["s"], ["bigint"]) == []
    # DuckDB DECIMAL vs Spark double must be flagged, not silently hashed
    probs = vl._oracle_type_problems(con, "SELECT 1.5 AS v", ["v"], ["double"])
    assert probs and "DECIMAL" in probs[0]


def test_verify_local_flags_driver_unsortable_output_shapes():
    """The local gate must reject the round-4 failure shape: an
    array/map/struct output column crashes the driver's pandas
    sort_values canonicalizer, so the pre-fix llm_embed_quantize schema
    (vec_id + array<bigint> qvec) must FAIL the pre-flight and the
    post-fix long form must pass."""
    import importlib.util
    import os

    from pyspark.sql import types as T

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "verify_local.py",
    )
    spec = importlib.util.spec_from_file_location("_vl_shapes", path)
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)

    prefix = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("qvec", T.ArrayType(T.LongType())),
        ]
    )
    assert vl._driver_unsortable_cols(prefix) == ["qvec"]
    postfix = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("dim", T.LongType()),
            T.StructField("q", T.LongType()),
        ]
    )
    assert vl._driver_unsortable_cols(postfix) == []
    mapy = T.StructType(
        [T.StructField("m", T.MapType(T.StringType(), T.LongType()))]
    )
    assert vl._driver_unsortable_cols(mapy) == ["m"]
    structy = T.StructType(
        [
            T.StructField(
                "s", T.StructType([T.StructField("a", T.LongType())])
            )
        ]
    )
    assert vl._driver_unsortable_cols(structy) == ["s"]


def test_all_registry_oracles_use_portable_result_types(sf_dir):
    """Spark-free sweep of every registered oracle: DESCRIBE on the test-sf
    views must produce no HUGEINT/UHUGEINT (DuckDB's integer-SUM
    widening — the round-3 driver hash-FAIL class) and no TIMESTAMP WITH
    TIME ZONE (tz-aware vs Spark's naive session-TZ collect). Runs in
    seconds, so the discipline lives in the default pytest gate, not only
    in the slower verify sweep."""
    import importlib.util
    import os

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_entry_types", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from iot_data_pipeline_spark.sources.readers import TABLES

    sf = sf_dir
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    oracles = dict(mod.oracle_sql())
    bad = []
    for name, sql in oracles.items():
        for row in con.execute(f"DESCRIBE {sql}").fetchall():
            dtype = row[1].upper()
            if "HUGEINT" in dtype or "WITH TIME ZONE" in dtype:
                bad.append((name, row[0], row[1]))
    assert bad == [], bad


def test_queries_is_registry_order_merge():
    """``queries()`` is the plain concatenation of each module's ``QUERIES``
    in ``_MODULES`` order, with the same callables, and reads no sidecar."""
    import __spark_entry__ as em

    expected = [(k, fn) for mod in em._MODULES for k, fn in mod.QUERIES.items()]
    got = list(em.queries().items())
    assert [k for k, _ in got] == [k for k, _ in expected]
    assert all(a is b for (_, a), (_, b) in zip(got, expected))


def test_queries_opens_no_file(monkeypatch):
    """Building the registry is pure in-memory work: ``queries()`` opens no
    file (no CORRECTNESS records, no sidecar) however often it is called."""
    import builtins

    import __spark_entry__ as em

    opened = []
    real_open = builtins.open

    def spy(file, *args, **kwargs):
        opened.append(file)
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", spy)
    for _ in range(2):
        assert em.queries()
    assert opened == []


def test_ingest_csv_writes_pipeline_process_rows(spark, tmp_path):
    """``Engine.ingest_csv`` returns and writes exactly the frame the batch
    pipeline's ``process`` builds from the same CSV."""
    from iot_data_pipeline_spark.pipeline import process

    src = _write_csv_fixture()
    out = str(tmp_path / "etl_out")
    df = Engine(spark).ingest_csv(src, out)
    expected = process(spark, src)
    assert df.schema == expected.schema
    assert sorted(df.collect()) == sorted(expected.collect())
    written = spark.read.parquet(out)
    assert written.columns == expected.columns
    assert sorted(written.collect()) == sorted(expected.collect())


def test_bench_band_check_is_mechanical():
    """BENCH_BANDS.json + bench._band_check form the mechanical per-query
    regression gate (r9 verdict item 6): >ref*1.5+0.3 s trips, quiet jitter
    does not, contention is reported (not used to excuse a regression), and
    bands only apply at the reference scale."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    bands = json.load(
        open(os.path.join(os.path.dirname(bench.__file__), "BENCH_BANDS.json"))
    )
    # every headline query has a committed reference wall
    assert set(bench.HEADLINE) <= set(bands["ref"])
    ref = bands["ref"]["llm_sim_hnsw"]
    ok = bench._band_check({"llm_sim_hnsw": ref * 1.2}, 200.0, 0.1)
    assert ok["band_ok"] and not ok["regressions"]
    bad = bench._band_check({"llm_sim_hnsw": ref * 2 + 1}, 200.0, 0.1)
    assert not bad["band_ok"] and "llm_sim_hnsw" in bad["regressions"]
    # contention signal is independent of band_ok
    cont = bench._band_check({"llm_sim_hnsw": ref}, 10.0, 0.1)
    assert cont["host_contended"] and cont["band_ok"]
    # bands are sf0.1-scoped
    assert bench._band_check({"llm_sim_hnsw": 999.0}, 200.0, 0.01) == {}


def test_llm_hybrid_staging_scheme_is_copy_disjoint(monkeypatch):
    """The LLM pressure staging's linear-density premise rests on copies
    being SHINGLE-disjoint (r10 review found the prefix scheme collided for
    copies >= 10: 'c1'+'0foo' == 'c10'+'foo'; the `_` separator fixed
    that). The FIRST token of each doc is never prefixed (no leading
    space), so token sets may share first words — harmless, because every
    word trigram contains at least two prefixed tokens. Pin with Spark-free
    DuckDB at copies=12 over sf0.001: copy 1 and copy 10 share ZERO
    trigram shingles (the quantity the dedup family actually joins on),
    row counts replicate exactly, n_chars tracks the rewritten text, and
    the staging dir is keyed to the source corpus (a different source
    yields a different dir)."""
    import os
    import sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import tools_pressure_probe as probe

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    d = probe._llm_hybrid_dir(12)
    con = duckdb.connect()
    n, nd = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM '{d}/documents.parquet'"
    ).fetchone()
    base = con.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert n == nd == 12 * base
    overlap = con.sql(
        f"""WITH arrs AS (
              SELECT doc_id // 1000000 AS cp, string_split(text, ' ') AS arr
              FROM '{d}/documents.parquet'
              WHERE doc_id // 1000000 IN (1, 10)
            ), sh AS (
              SELECT cp,
                     arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS s
              FROM arrs, unnest(range(1, greatest(len(arr) - 1, 1))) AS u(i)
            )
        SELECT count(*) FROM
          (SELECT DISTINCT s FROM sh WHERE cp = 1)
          JOIN (SELECT DISTINCT s FROM sh WHERE cp = 10)
          USING (s)"""
    ).fetchone()[0]
    assert overlap == 0, f"copies 1 and 10 share {overlap} shingles"
    bad_len = con.sql(
        f"SELECT count(*) FROM '{d}/documents.parquet'"
        " WHERE n_chars <> length(text)"
    ).fetchone()[0]
    assert bad_len == 0
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    d2 = probe._llm_hybrid_dir(12)
    assert d2 != d, "staging dir must be keyed to the source corpus"
