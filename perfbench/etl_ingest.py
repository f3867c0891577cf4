"""etl_ingest: the reference's own job, CSV -> transformed Parquet.

Each request runs ``Engine.ingest_csv`` over the same seeded IoT-23 CSV
(four files, so one narrow job of four long tasks) and overwrites the
output. The output is checked against the generator's known values.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from perfbench import gen

ROWS = 100_000
TINY_ROWS = 2_000
# The set-up warm-up is one tiny ingest, so the JIT is still compiling the
# scan and encode paths during the first full-size ingests, which run up to
# 3x slower than the eighth and later ones. That many untimed ingests run
# before timing starts.
PRIME_ROUNDS = 8
FILES = 4  # one task per core: one narrow job of long tasks


class Workload:
    def __init__(self, h):
        self.h = h
        rows = TINY_ROWS if h.tiny else ROWS
        self.csv_dir = os.path.join(h.work, "iot23")
        self.out_dir = os.path.join(h.work, "flows_out")
        self.truth = gen.write_iot_csv(self.csv_dir, rows, h.seed, n_files=FILES)
        self.warm_csv = os.path.join(h.work, "iot23_warm")
        gen.write_iot_csv(self.warm_csv, TINY_ROWS, h.seed + 1, n_files=FILES)
        self.tables = os.path.join(h.work, "tables")
        os.makedirs(self.tables, exist_ok=True)
        self.con = duckdb.connect()
        self.con.register("truth", pa.table({
            "uid": self.truth["uid"],
            "duration_sec": pa.array(self.truth["duration_sec"], from_pandas=True),
        }))

    def run(self) -> None:
        h = self.h
        h.setup(self.tables, (), stage=lambda: None, warmup=self._warmup)
        h.prime(self._round, 1 if h.tiny else PRIME_ROUNDS)
        h.loop(self._round)
        self.con.close()

    def _warmup(self) -> None:
        # The only distinct operation of this workload, on another seed's tiny CSV.
        self.h.eng.ingest_csv(self.warm_csv, os.path.join(self.h.work, "warm_out"))

    def _ingest(self):
        h, tr = self.h, self.h.tracer
        if not tr.enabled:
            h.eng.ingest_csv(self.csv_dir, self.out_dir)
            return
        # Engine.ingest_csv, one layer at a time (same calls, same order).
        from iot_data_pipeline_spark.functions.transforms import normalize_columns, transform_iot
        from iot_data_pipeline_spark.sources.readers import read_iot_csv
        from iot_data_pipeline_spark.sources.sinks import write_parquet

        with tr.span("call", metric="request.call_s"):
            with tr.span("readers", metric="readers.call_s"):
                df = read_iot_csv(h.eng.spark, self.csv_dir)
            with tr.span("transforms", metric="transforms.call_s"):
                df = transform_iot(normalize_columns(df))
        with tr.span("action", metric="request.action_s"):
            with tr.span("sinks", metric="sinks.write_parquet_s"):
                write_parquet(df, self.out_dir)
        tr.catalyst(df)

    def _round(self, r: int) -> None:
        self.h.request(f"ingest-{r}", "ingest", self._ingest, self._check,
                       nbytes=self.truth["bytes"])

    def _check(self, _out) -> str | None:
        t = self.truth
        src = f"read_parquet('{self.out_dir}/*.parquet')"
        n, n_dur, n_local, n_service, n_ob_null, n_cols = self.con.sql(
            f"SELECT count(*), count(duration_sec), count_if(local_orig_bool),"
            f" count(service), count_if(orig_bytes IS NULL),"
            f" (SELECT count(*) FROM (DESCRIBE SELECT * FROM {src}))"
            f" FROM {src}"
        ).fetchone()
        if (n, n_cols) != (t["rows"], 22):
            return f"rows/cols {n}/{n_cols} != {t['rows']}/22"
        want_dur = int(sum(1 for x in t["duration_sec"] if x == x))
        if (n_dur, n_local, n_service, n_ob_null) != (
            want_dur, t["local_orig_true"], t["service_nonnull"], t["orig_bytes_null"]
        ):
            return (f"null/flag counts {(n_dur, n_local, n_service, n_ob_null)} != "
                    f"{(want_dur, t['local_orig_true'], t['service_nonnull'], t['orig_bytes_null'])}")
        labels = dict(self.con.sql(f"SELECT label, count(*) FROM {src} GROUP BY 1").fetchall())
        if labels != t["label_counts"]:
            return f"label counts {labels} != {t['label_counts']}"
        bad = self.con.sql(
            f"SELECT count(*) FROM {src} o JOIN truth t USING (uid)"
            " WHERE (o.duration_sec IS NULL) <> (t.duration_sec IS NULL)"
            " OR abs(o.duration_sec - t.duration_sec) > 1e-3"
        ).fetchone()[0]
        return f"{bad} duration_sec values differ from the generator's" if bad else None

    def layers(self) -> dict:
        h = self.h
        out = {
            "sinks.output_files": len([
                f for f in os.listdir(self.out_dir) if f.endswith(".parquet")
            ]),
        }
        mb = self.truth["bytes"] / 1e6 * len(h.latencies)
        out["etl.cpu_s_per_mb"] = h.tracer.counters.get("spark.executor_cpu_s", 0.0) / mb
        return out
