"""What every workload shares: session set-up, memo hygiene, the closed-loop
request runner, correctness accounting and the result line.

One client thread sends requests in a closed loop: the next request starts
only after the previous one returned and was checked. Latency is the wall
of the engine call plus the collect (or write) that forces it; checks and
memo clearing run between requests, outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from perfbench import host
from perfbench.trace import Tracer

class Harness:
    def __init__(self, root: str, work: str, seed: int, seconds: int,
                 tracer: Tracer, tiny: bool):
        self.root, self.work, self.seed = root, work, seed
        self.seconds, self.tracer, self.tiny = seconds, tracer, tiny
        self.cores = min(4, host.nproc())
        self.mem_mb = host.driver_memory_mb()
        self.eng = None
        self.latencies: list[float] = []
        self.kinds: list[str] = []
        self.input_bytes = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.setup_s = 0.0
        self.loop_wall = 0.0
        self._timed = True

    # -- session ----------------------------------------------------------
    def conf(self) -> dict:
        return {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{self.mem_mb}m",
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}"
            ),
        }

    def setup(self, tables_dir: str, names: tuple, stage, warmup) -> None:
        """One cold set-up: session build (the run's process starts its own
        JVM here) + engine preparation + ``register_tables``, then one timed
        warm-up call per distinct operation, then untimed fixture staging.
        setup_s = set-up + warm-up."""
        from iot_data_pipeline_spark.engine import Engine
        from iot_data_pipeline_spark.session import build_session

        t0 = time.perf_counter()
        # Engine.local(cores, **conf) is exactly these two steps; they are
        # timed apart so session build and engine preparation show as layers.
        spark = build_session(master=f"local[{self.cores}]", conf=self.conf())
        t1 = time.perf_counter()
        self.eng = Engine(spark)
        t2 = time.perf_counter()
        self.eng.register_tables(tables_dir, names=names)
        t3 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        warmup()
        self.eng.register_tables(tables_dir, names=names)
        t4 = time.perf_counter()
        stage()
        print(f"set-up {t3 - t0:.1f}s, warm-up {t4 - t3:.1f}s,"
              f" staging {time.perf_counter() - t4:.1f}s", file=sys.stderr)
        self.setup_s = t4 - t0
        self.layer.update({
            "session.build_s": t1 - t0,
            "session.prepare_s": t2 - t1,
            "engine.register_tables_s": t3 - t2,
            "warmup_s": t4 - t3,
        })

    def hygiene(self) -> None:
        """Clear every result memo a registered operator may have filled, so
        each timed request pays its own cache fill (as bench.py does)."""
        from iot_data_pipeline_spark.cache_tracker import evict_tracked
        from iot_data_pipeline_spark.operators import llm

        evict_tracked()
        llm.clear_bpe_rules_memo()
        llm.clear_kmeans_codebook_memo()

    # -- requests ---------------------------------------------------------
    def request(self, rid: str, kind: str, run, check, nbytes: int = 0):
        """One request, timed unless the run is priming. ``run`` returns the
        request's result; ``check`` returns None when it is correct, else a
        reason."""
        tr = self.tracer
        timed = self._timed
        with tr.span("hygiene"):
            self.hygiene()
        self.attempted += 1
        out, err = None, None
        with tr.request(rid, kind):
            t0 = time.perf_counter()
            try:
                out = run()
            except Exception as ex:  # a failed request is counted, not fatal
                err = f"{type(ex).__name__}: {str(ex)[:300]}"
            lat = time.perf_counter() - t0
        with tr.span("check"):
            if err is None:
                try:
                    err = check(out)
                except Exception as ex:
                    err = f"check raised {type(ex).__name__}: {str(ex)[:300]}"
        if err is not None:
            self.failures.append(f"{'' if timed else 'prime '}{rid}: {err}")
        if not timed:
            return
        self.latencies.append(lat)
        self.kinds.append(kind)
        self.input_bytes += nbytes

    def prime(self, rounds, n: int) -> None:
        """Run ``n`` whole rounds of requests untimed and untraced, so the
        JIT reaches its steady state on full-size inputs before timing
        starts. Results are still checked."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        self._timed = False
        t0 = time.perf_counter()
        try:
            for r in range(n):
                rounds(r)
        finally:
            self._timed, self.tracer.enabled = True, enabled
        self.layer["prime_s"] = time.perf_counter() - t0
        print(f"prime {self.layer['prime_s']:.1f}s ({n} rounds)", file=sys.stderr)

    def loop(self, rounds, min_requests: int = 1) -> None:
        """Run whole rounds of requests until ``seconds`` have passed and at
        least ``min_requests`` were sent."""
        self.tracer.attach(self.eng.spark)
        t0 = time.perf_counter()
        r = 0
        while True:
            rounds(r)
            r += 1
            if time.perf_counter() - t0 >= self.seconds and len(self.latencies) >= min_requests:
                break
        self.loop_wall = time.perf_counter() - t0

    # -- result -----------------------------------------------------------
    def end_to_end(self) -> dict:
        lat = sorted(self.latencies)
        busy = sum(lat)
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "input_mb_per_s": (self.input_bytes / 1e6 / busy, "MB/s"),
        }

    def by_kind(self) -> dict[str, list[float]]:
        """Request latencies grouped by request kind, in send order."""
        out: dict[str, list[float]] = {}
        for kind, lat in zip(self.kinds, self.latencies):
            out.setdefault(kind, []).append(round(lat, 3))
        return out

    def stop(self) -> None:
        if self.eng is not None:
            host.stop_spark(self.eng.spark)
            self.eng = None


def percentile(sorted_xs: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    idx = max(0, min(len(sorted_xs) - 1, int(-(-q * len(sorted_xs) // 1)) - 1))
    return sorted_xs[idx]
