"""sql_serve: the traffic of the serving layer, one client in a closed loop.

After one untimed cycle, a run times whole cycles, at least two, until
``--seconds`` have passed. One cycle sends every ad-hoc template
``ADHOC_PER_TEMPLATE`` times, with parameters drawn from the seed for that
cycle, and every registered report once, in seeded order. Ad-hoc requests are short
``Engine.sql`` queries: counts, label and event_type group-bys, range
filters and top-N. Reports are heavier operators run through
``Engine.query``. The mix, 14 ad-hoc requests to 4 reports per cycle, is an
assumption: no traffic record of the serving layer gives one. Every result
is collected to the driver and checked against DuckDB. At sf0.1 planning,
job scheduling and shuffle set-up dominate each request.
"""

from __future__ import annotations

import os
import re

import numpy as np

from perfbench import checks, gen

SF = 0.1
TINY_SF = 0.002
WARM_SF = 0.001
FLOW_ROWS = 200_000
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")
# Four of the registry's reports: a planning-heavy multi-way join, the
# bloom-prefiltered join, and one label and one event report.
REPORTS = ("sql_entry_tpch_q5", "join_bloom_prefilter", "agg_groupby_label", "evt_retention")
ADHOC_PER_TEMPLATE = 2
# Cycles with their own ad-hoc parameters: the untimed one, then timed ones;
# a run that times more cycles than this reuses them in turn. Serving
# traffic rarely repeats a query, and more parameter sets per run keep the
# median from following one seed's draws.
CYCLES = 4


def _date(rng, lo_year=1995, hi_year=2001) -> str:
    return f"{rng.integers(lo_year, hi_year + 1)}-{rng.integers(1, 13):02d}-01"


def _window(rng) -> tuple[str, str]:
    y, m = int(rng.integers(1995, 2001)), int(rng.integers(1, 13))
    months = int(rng.integers(1, 7))
    m2, y2 = (m - 1 + months) % 12 + 1, y + (m - 1 + months) // 12
    return f"{y}-{m:02d}-01", f"{y2}-{m2:02d}-01"


# Ad-hoc templates: portable SQL that Spark and DuckDB both run. Sums go
# through DECIMAL so both engines add exactly.
TEMPLATES = {
    "count_range": lambda rng: (
        "SELECT COUNT(*) AS n FROM lineitem WHERE l_shipdate >= TIMESTAMP '{}'"
        " AND l_shipdate < TIMESTAMP '{}'".format(*_window(rng))
    ),
    "label_groupby": lambda rng: (
        "SELECT label, detailed_label, COUNT(*) AS n FROM flows"
        f" WHERE id_resp_p < {int(rng.integers(50, 1024))}"
        " GROUP BY label, detailed_label"
    ),
    "event_type_groupby": lambda rng: (
        lambda u: "SELECT event_type, COUNT(*) AS n,"
        " CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total FROM events"
        f" WHERE user_id BETWEEN {u} AND {u + int(rng.integers(10, 500))} GROUP BY event_type"
    )(int(rng.integers(0, 1000))),
    "orders_topn": lambda rng: (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        f" WHERE o_orderdate >= TIMESTAMP '{_date(rng)}'"
        f" AND o_orderpriority = '{gen.PRIORITIES[int(rng.integers(0, 5))]}'"
        f" ORDER BY o_totalprice DESC, o_orderkey LIMIT {int(rng.integers(5, 50))}"
    ),
    "flows_duration_range": lambda rng: (
        lambda a: "SELECT proto, COUNT(*) AS n, CAST(SUM(orig_bytes) AS BIGINT) AS ob"
        f" FROM flows WHERE duration_sec BETWEEN {a} AND {a + int(rng.integers(5, 60))}"
        " GROUP BY proto"
    )(int(rng.integers(0, 90))),
    "segment_join_count": lambda rng: (
        "SELECT c_mktsegment, COUNT(*) AS n FROM customer JOIN orders"
        " ON c_custkey = o_custkey WHERE o_orderdate >= TIMESTAMP '{}'"
        " AND o_orderdate < TIMESTAMP '{}' GROUP BY c_mktsegment".format(*_window(rng))
    ),
    "label_top_sources": lambda rng: (
        "SELECT id_orig_h, COUNT(*) AS n FROM flows WHERE label = 'Malicious'"
        f" AND detailed_label = '{gen.DETAILED_LABELS[int(rng.integers(0, 9))]}'"
        " GROUP BY id_orig_h ORDER BY n DESC, id_orig_h LIMIT 10"
    ),
}


class Workload:
    def __init__(self, h):
        self.h = h
        sf = TINY_SF if h.tiny else SF
        self.tables = os.path.join(h.work, "tables")
        self.warm = os.path.join(h.work, "warm")
        gen.write_tables(self.tables, sf, h.seed, TABLES)
        gen.write_flows_parquet(os.path.join(self.tables, "flows.parquet"),
                                2_000 if h.tiny else FLOW_ROWS, h.seed)
        gen.write_tables(self.warm, WARM_SF, h.seed + 1, TABLES)
        gen.write_flows_parquet(os.path.join(self.warm, "flows.parquet"), 500, h.seed + 1)
        rng = np.random.default_rng([h.seed, 5])
        self.warm_sql = [make(rng) for make in TEMPLATES.values()]
        self.cycles = [self._cycle_plan(rng) for _ in range(CYCLES)]
        # Expected results, before anything is timed.
        import __spark_entry__ as entry

        oracle_sql = entry.oracle_sql()
        oracle = checks.Oracle(self.tables, TABLES + ("flows",))
        sizes = {
            t: os.path.getsize(os.path.join(self.tables, f"{t}.parquet"))
            for t in TABLES + ("flows",)
        }
        self.expected, self.nbytes = {}, {}
        for kind, _, key in (req for cycle in self.cycles for req in cycle):
            sql = oracle_sql[key] if kind == "report" else key
            self.expected[key] = oracle.expect(sql)
            # input size: the stored bytes of every table the request reads
            words = set(re.findall(r"[a-z_]+", sql.lower()))
            self.nbytes[key] = sum(n for t, n in sizes.items() if t in words)
        oracle.close()

    @staticmethod
    def _cycle_plan(rng) -> list[tuple[str, str, str]]:
        """One cycle in seeded order: (kind, name, SQL text or report id)."""
        out = [("report", r, r) for r in REPORTS]
        for name, make in TEMPLATES.items():
            out += [("adhoc", name, make(rng)) for _ in range(ADHOC_PER_TEMPLATE)]
        return [out[i] for i in rng.permutation(len(out))]

    def _warmup(self) -> None:
        eng = self.h.eng
        eng.register_tables(self.warm, names=TABLES + ("flows",))
        for sql in self.warm_sql:
            eng.sql(sql).collect()
        for name in REPORTS:
            eng.query(name, self.warm).collect()

    def run(self) -> None:
        h = self.h
        h.setup(self.tables, TABLES + ("flows",), stage=lambda: None, warmup=self._warmup)
        # The sf0.001 warm-up leaves the first sf0.1 cycle up to 2x slower
        # than later ones, so one whole cycle runs untimed first. The next
        # cycle is still a little slower than the third, so at least two are
        # timed: runs that timed one or two cycles moved the median by 30%.
        h.prime(self._round, 1)
        h.loop(lambda r: self._round(r + 1),
               min_requests=len(self.cycles[0]) * (1 if h.tiny else 2))

    def _round(self, c: int) -> None:
        for i, (kind, name, key) in enumerate(self.cycles[c % CYCLES]):
            self.h.request(
                f"{name}-{c}-{i}", name, lambda k=kind, q=key: self._send(k, q),
                lambda rows, q=key: checks.compare(checks.spark_digest(rows), self.expected[q]),
                nbytes=self.nbytes[key],
            )

    def _send(self, kind: str, key: str):
        eng, tr = self.h.eng, self.h.tracer
        with tr.span("call", metric="request.call_s"):
            df = eng.query(key) if kind == "report" else eng.sql(key)
        with tr.span("action", metric="request.action_s"):
            rows = checks.collect(df)
        tr.catalyst(df)
        return rows

    def layers(self) -> dict:
        return {}
