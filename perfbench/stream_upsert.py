"""stream_upsert: the write side.

Each round runs two registered stream replays, ``stream_tumbling_agg``
(stateful windowed aggregation) and ``stream_acid_sink`` (micro-batches
committed to an ACID table), and, interleaved with them in seeded order,
an ``acid_table`` loop on a table the benchmark owns: MERGE batches,
DELETEs, ``snapshot(key_between=...)`` reads and a ``compact``. Replays are
checked against the registry's DuckDB oracles; every read, delete count and
the final snapshot are checked against a DuckDB model of the same upserts
and deletes.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, gen

EVENTS_SF, TINY_EVENTS_SF = 0.01, 0.0002
STREAMS = ("stream_tumbling_agg", "stream_acid_sink")
BASE_ROWS, BATCH_ROWS = 20_000, 2_000
TINY_BASE_ROWS, TINY_BATCH_ROWS = 400, 40
# One round of table operations, shuffled by the seed among the replays.
ROUND_OPS = ("merge",) * 3 + ("delete",) + ("snapshot",) * 2 + ("compact",)
# At least two rounds, so the percentiles come from 18 requests, not 9.
MIN_ROUNDS, MAX_ROUNDS = 2, 8
# Per-layer metrics this workload adds to the common list.
EXTRA_LAYERS = (
    "stream.batches", "stream.empty_batch_ratio", "stream.trigger_s",
    "stream.add_batch_s", "stream.query_planning_s", "stream.wal_commit_s",
    "stream.latest_offset_s", "state.rows_total", "state.memory_bytes", "state.commit_s",
    "acid.merge_s", "acid.delete_s", "acid.snapshot_s", "acid.compact_s",
    "acid.commit_p50_s", "acid.commit_p90_s", "acid.read_p50_s", "acid.write_amp",
    "acid.jobs_per_merge", "acid.files_added", "acid.files_removed", "acid.bytes_written",
    "acid.live_files", "acid.files_read_per_snapshot", "acid.commits",
)


class Workload:
    def __init__(self, h):
        self.h = h
        tiny = h.tiny
        self.tables = os.path.join(h.work, "tables")
        gen.write_tables(self.tables, TINY_EVENTS_SF if tiny else EVENTS_SF, h.seed, ("events",))
        self.events_bytes = os.path.getsize(os.path.join(self.tables, "events.parquet"))
        n_merge = MAX_ROUNDS * ROUND_OPS.count("merge")
        base, batches, rng = gen.acid_batches(
            h.seed, TINY_BASE_ROWS if tiny else BASE_ROWS,
            TINY_BATCH_ROWS if tiny else BATCH_ROWS, n_merge + 1,
        )
        self.acid_dir = os.path.join(h.work, "acid")
        os.makedirs(self.acid_dir)
        pq.write_table(base, os.path.join(self.acid_dir, "base.parquet"))
        self.batch_paths, self.batch_bytes = [], []
        for i, b in enumerate(batches):
            p = os.path.join(self.acid_dir, f"batch_{i:03d}.parquet")
            pq.write_table(b, p)
            self.batch_paths.append(p)
            self.batch_bytes.append(gen.parquet_bytes(b))
        self.source_bytes = 0  # merge-source bytes, the write-amp base
        self.n_keys = len(base) + sum(len(b) // 2 for b in batches)
        self.rng = rng
        self.rounds = [self._round_plan(r) for r in range(MAX_ROUNDS)]
        # Expected replay results, before anything is timed.
        import __spark_entry__ as entry

        oracle_sql = entry.oracle_sql()
        oracle = checks.Oracle(self.tables, ("events",))
        self.expected = {name: oracle.expect(oracle_sql[name]) for name in STREAMS}
        oracle.close()
        # DuckDB model of the owned table.
        self.model = duckdb.connect()
        self.model.execute(
            f"CREATE TABLE m AS SELECT * FROM read_parquet('{self.acid_dir}/base.parquet')"
        )
        self.table = os.path.join(self.acid_dir, "table")
        self.written = 0  # data bytes in the table after the last write
        self.bytes_written = 0
        self.commits0 = 0
        self.merge_i = 0
        self.acid_lat: dict[str, list] = {"merge": [], "delete": [], "snapshot": [], "compact": []}
        self.files_read: list[int] = []

    def _round_plan(self, r: int) -> list[tuple]:
        rng = self.rng
        ops = list(STREAMS) + list(ROUND_OPS)
        rng.shuffle(ops)
        plan = []
        for op in ops:
            if op == "delete":
                lo = int(rng.integers(0, self.n_keys))
                plan.append((op, (lo, lo + int(rng.integers(50, 400)))))
            elif op == "snapshot":
                lo = int(rng.integers(0, self.n_keys))
                plan.append((op, (lo, lo + int(rng.integers(100, 3000)))))
            else:
                plan.append((op, None))
        return plan

    # -- set-up -----------------------------------------------------------
    def _stage(self) -> None:
        """Untimed fixture: the owned table's version 0."""
        from iot_data_pipeline_spark.sources import acid_table

        spark = self.h.eng.spark
        acid_table.create(spark.read.parquet(os.path.join(self.acid_dir, "base.parquet")),
                          self.table, key="k")
        self.written = self._data_bytes()
        self.commits0 = len(acid_table.history(self.table))
        self.sources = {}

    def _warmup(self) -> None:
        """One call per distinct operation. The replays run on the measured
        events, so their staged chunk files (``streams._STAGED_DIRS``) exist
        before timing; the table operations run on a small table of their
        own."""
        from iot_data_pipeline_spark.sources import acid_table

        eng = self.h.eng
        spark = eng.spark
        for name in STREAMS:
            eng.query(name, self.tables).collect()
        path = os.path.join(self.h.work, "warm_table")
        src = spark.read.parquet(os.path.join(self.acid_dir, "batch_000.parquet"))
        acid_table.create(src, path, key="k")
        acid_table.merge(spark, src, path)
        acid_table.delete(spark, path, "k < 100")
        acid_table.snapshot(spark, path, key_between=(0, 1000)).collect()
        acid_table.compact(spark, path, n_files=1)

    def run(self) -> None:
        h = self.h
        h.setup(self.tables, ("events",), stage=self._stage, warmup=self._warmup)
        h.loop(self._round, min_requests=MIN_ROUNDS * len(self.rounds[0]))
        self._final_check()
        self.model.close()

    # -- requests ---------------------------------------------------------
    def _round(self, r: int) -> None:
        if r >= MAX_ROUNDS:
            raise RuntimeError(f"more than {MAX_ROUNDS} rounds: raise MAX_ROUNDS")
        # This round's MERGE sources, read before any of its requests is timed.
        for j in range(self.merge_i, self.merge_i + ROUND_OPS.count("merge")):
            self.sources[j] = self.h.eng.spark.read.parquet(self.batch_paths[j])
        for i, (op, arg) in enumerate(self.rounds[r]):
            rid = f"{op}-{r}-{i}"
            if op in STREAMS:
                self.h.request(rid, op, lambda n=op: self._replay(n),
                               lambda rows, n=op: checks.compare(
                                   checks.spark_digest(rows), self.expected[n]),
                               nbytes=self.events_bytes)
            elif op == "merge":
                j = self.merge_i
                self.merge_i += 1
                self.h.request(rid, op, lambda j=j: self._acid("merge", j),
                               lambda out, j=j: self._after_merge(j),
                               nbytes=self.batch_bytes[j])
            elif op == "delete":
                self.h.request(rid, op, lambda a=arg: self._acid("delete", a),
                               lambda out, a=arg: self._after_delete(out, a))
            elif op == "snapshot":
                self.h.request(rid, op, lambda a=arg: self._acid("snapshot", a),
                               lambda rows, a=arg: self._check_read(rows, a))
            else:
                self.h.request(rid, op, lambda: self._acid("compact", None),
                               lambda out: self._after_write())

    def _replay(self, name: str):
        tr = self.h.tracer
        with tr.span("call", metric="request.call_s"):
            df = self.h.eng.query(name)
        with tr.span("action", metric="request.action_s"):
            return checks.collect(df)

    def _acid(self, op: str, arg):
        from iot_data_pipeline_spark.sources import acid_table

        spark, tr = self.h.eng.spark, self.h.tracer
        t0 = time.perf_counter()
        with tr.span("call", metric=f"acid.{op}_s"):
            if op == "merge":
                out = acid_table.merge(spark, self.sources[arg], self.table)
            elif op == "delete":
                out = acid_table.delete(spark, self.table, f"k BETWEEN {arg[0]} AND {arg[1]}")
            elif op == "compact":
                out = acid_table.compact(spark, self.table)
            else:
                df = acid_table.snapshot(spark, self.table, key_between=arg)
                with tr.span("action", metric="request.action_s"):
                    out = checks.collect(df)
                if tr.enabled:
                    self.files_read.append(len(df.inputFiles()))
        self.acid_lat[op].append(time.perf_counter() - t0)
        return out

    # -- checks (untimed) -------------------------------------------------
    def _data_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.table):
            if os.path.basename(d) != "_log":
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def _after_write(self) -> None:
        # Files are never rewritten in place, so growth is bytes written.
        now = self._data_bytes()
        self.bytes_written += max(0, now - self.written)
        self.written = now

    def _after_merge(self, j: int) -> str | None:
        self.model.execute(
            f"DELETE FROM m WHERE k IN (SELECT k FROM read_parquet('{self.batch_paths[j]}'));"
            f" INSERT INTO m SELECT * FROM read_parquet('{self.batch_paths[j]}')"
        )
        self.source_bytes += self.batch_bytes[j]
        return self._after_write()

    def _after_delete(self, out: dict, rng_: tuple) -> str | None:
        cond = f"k BETWEEN {rng_[0]} AND {rng_[1]}"
        want = self.model.execute(f"SELECT count(*) FROM m WHERE {cond}").fetchone()[0]
        self.model.execute(f"DELETE FROM m WHERE {cond}")
        self._after_write()
        got = out.get("deleted_rows")
        return None if got == want else f"deleted {got} rows, model deleted {want}"

    def _model_digest(self, where: str) -> tuple[int, str]:
        rel = self.model.sql(f"SELECT * FROM m WHERE {where}")
        cols, rows = list(rel.columns), rel.fetchall()
        return len(rows), checks.digest(cols, rows)

    def _check_read(self, rows, rng_: tuple) -> str | None:
        return checks.compare(
            checks.spark_digest(rows), self._model_digest(f"k BETWEEN {rng_[0]} AND {rng_[1]}")
        )

    def _final_check(self) -> None:
        from iot_data_pipeline_spark.sources import acid_table

        h = self.h
        h.attempted += 1
        result = checks.collect(acid_table.snapshot(h.eng.spark, self.table))
        err = checks.compare(checks.spark_digest(result), self._model_digest("true"))
        if err:
            h.failures.append(f"final snapshot: {err}")

    def layers(self) -> dict:
        from iot_data_pipeline_spark.sources import acid_table

        from perfbench.harness import percentile

        hist = acid_table.history(self.table)[self.commits0:]
        commits = sorted(self.acid_lat["merge"] + self.acid_lat["delete"] + self.acid_lat["compact"])
        reads = sorted(self.acid_lat["snapshot"])
        merges = self.h.tracer.samples.get("jobs.merge", [])
        live = acid_table.snapshot(self.h.eng.spark, self.table).inputFiles()
        return {
            **{f"acid.{op}_s": float(np.median(v)) if v else 0.0 for op, v in self.acid_lat.items()},
            "acid.commit_p50_s": float(np.median(commits)) if commits else 0.0,
            "acid.commit_p90_s": percentile(commits, 0.9) if commits else 0.0,
            "acid.read_p50_s": float(np.median(reads)) if reads else 0.0,
            "acid.write_amp": self.bytes_written / self.source_bytes,
            "acid.jobs_per_merge": float(np.mean(merges)) if merges else 0.0,
            "acid.files_added": sum(len(m.get("add", [])) for m in hist),
            "acid.files_removed": sum(len(m.get("remove", [])) for m in hist),
            "acid.bytes_written": self.bytes_written,
            "acid.live_files": len(live),
            "acid.files_read_per_snapshot": float(np.mean(self.files_read)) if self.files_read else 0.0,
            "acid.commits": len(hist),
        }
