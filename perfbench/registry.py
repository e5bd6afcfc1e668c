"""Registry workload: eager-heavy registered queries from
``__spark_entry__`` on a fixed table set, each query's output sent to
the noop sink.

The queries chosen are bound by driver-side work (model loops,
convergence jobs, audit staging) in ``operators.dedup``,
``operators.clusters``, ``operators.similarity`` and
``operators.preference``. No CSV ingest or URL work runs, so this
workload should not move when the visibility pipeline changes.

Correctness: after each query's timed noop write, its output is
collected (untimed) and its row count and order-insensitive hash must
equal the pins in ``pins.json``, recorded by ``pin_registry.py`` from a
run that matched the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
PINS = os.path.join(HERE, "pins.json")
QUERIES = ("q42_dedup_clusters", "q50_ann_ivf", "qx94_bradley_terry")


def result_pin(df) -> dict:
    """Row count and sha256 of the canonical (order-insensitive) rows."""
    from tests.oracle_harness import canonical_rows

    rows = [tuple(r) for r in df.collect()]
    canon = canonical_rows(df.columns, rows)
    h = hashlib.sha256(repr((sorted(df.columns), canon)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def query_fns() -> dict:
    import __spark_entry__ as entry

    qs = {**entry.queries(), **entry.extra_queries()}
    return {q: qs[q] for q in QUERIES}


class RegistryWorkload:
    # Passes keep speeding up by a few percent each for several passes,
    # so warm_s is the mean of the first two after the cold one: a third
    # pass costs ~10 s per run, more than the benchmark's run budget
    # leaves.
    min_warm = 2

    def __init__(self, spark, seed: int, work: str, tiny: bool = False):
        """``work`` and ``tiny`` are unused: the tables are fixed."""
        self.spark = spark
        self.seed = seed
        self.queries = QUERIES
        self.ops_per_run = len(QUERIES)
        self.query_s: list[dict[str, float]] = []
        self.passes = 0

    def prepare(self) -> None:
        with open(PINS) as fh:
            self.pins = json.load(fh)
        self.fns = query_fns()

    def _order(self) -> list[str]:
        order = list(self.queries)
        random.Random(self.seed * 1_000_003 + self.passes).shuffle(order)
        self.passes += 1
        return order

    def run(self) -> tuple[float, float, list[str]]:
        """One pass over the queries in seeded order. Returns the summed
        query seconds, the process tree's CPU seconds over them, and one
        entry per query whose output misses its pin."""
        cpu, bad, times = 0.0, [], {}
        pid = os.getpid()
        for q in self._order():
            c0 = spans.tree_cpu_s(pid)
            t0 = time.perf_counter()
            df = self.fns[q](self.spark, DATA_DIR)
            df.write.format("noop").mode("overwrite").save()
            times[q] = time.perf_counter() - t0
            cpu += spans.tree_cpu_s(pid) - c0
            bad += self.check(q, df)
        self.query_s.append(times)
        return sum(times.values()), cpu, bad

    def check(self, q: str, df) -> list[str]:
        got = result_pin(df)
        return [] if got == self.pins[q] else [f"{q}: got {got}, want {self.pins[q]}"]

    def trace(self, tracer) -> tuple[dict[str, float], list[str], float]:
        """One pass with a span around each query call (eager) and each
        noop write (exec). The signature-staging root is emptied before
        each query, so what it holds afterwards is that query's audit
        output."""
        sig_root = os.environ["SPARK_GRAFT_SIG_STAGE_ROOT"]
        m, bad, total = {}, [], 0.0
        for q in self._order():
            shutil.rmtree(sig_root, ignore_errors=True)
            with tracer.span(f"{q}.eager"):
                df = self.fns[q](self.spark, DATA_DIR)
            with tracer.span(f"{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
            e, x = tracer.spans[f"{q}.eager"], tracer.spans[f"{q}.exec"]
            total += e.wall_s + x.wall_s
            m[f"{q}.eager_s"] = e.wall_s
            m[f"{q}.exec_s"] = x.wall_s
            m[f"{q}.jobs"] = e.jobs + x.jobs
            m[f"{q}.shuffle_bytes"] = e.shuffle_write_bytes + x.shuffle_write_bytes
            m[f"{q}.audit_bytes"] = spans.tree_bytes(sig_root)
            bad += self.check(q, df)
        return m, bad, total
