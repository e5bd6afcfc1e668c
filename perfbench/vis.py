"""Visibility-pipeline workload ``vis_querylevel``:
``plans.pipeline.run_visibility_pipeline`` over seeded Frog / GSC / GA4
CSV exports (``gen.py``) with GSC at query x page grain, GA4 at
date x page grain and dirty URLs, with the CSV mirror and the slices
on. Every layer of the pipeline runs: ingest, URL normalization, the
per-URL aggregations, the merge with its staging write, scoring, the
anomaly slices, and the parquet and CSV sinks.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
import time
from contextlib import contextmanager

import gen
import spans


class VisWorkload:
    # The first repeat after the cold run is sometimes slower (JIT);
    # the median of three takes it out.
    min_warm = 3
    ops_per_run = 1

    def __init__(self, spark, seed: int, work: str, tiny: bool = False):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tiny = tiny
        self.inputs: dict = {}
        self.cfg: dict = {}
        self._runs = 0

    def prepare(self) -> None:
        from strategicai_visibility_loop_etl_spark.plans.pipeline import default_config

        self.inputs = gen.generate(self.seed, os.path.join(self.work, "inputs"), tiny=self.tiny)
        # Path-only GSC and GA4 URLs resolve against the crawl's site.
        os.environ["SITE_BASE"] = gen.SITE_BASE
        self.cfg = default_config()
        self.cfg["output"] = {"write_slices": True, "csv_mirror": True}

    def _fresh_out(self) -> str:
        out = os.path.join(self.work, "out", str(self._runs))
        self._runs += 1
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        return out

    def run(self) -> tuple[float, float, list[str]]:
        """One timed pipeline run into a fresh ``out_dir``. Returns its
        seconds, the process tree's CPU seconds, and one entry per
        failed operation (here: the run, when the untimed output check
        finds a mismatch)."""
        from strategicai_visibility_loop_etl_spark.plans.pipeline import (
            run_visibility_pipeline,
        )

        out = self._fresh_out()
        c0 = spans.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        run_visibility_pipeline(
            self.spark, self.cfg, self.inputs["frog"], self.inputs["gsc"],
            self.inputs["ga4"], out_dir=out,
        )
        dt = time.perf_counter() - t0
        cpu = spans.tree_cpu_s(os.getpid()) - c0
        bad = self.check(out)
        return dt, cpu, ["; ".join(bad)] if bad else []

    def check(self, out: str) -> list[str]:
        """Compare the written sinks with the generator's truths. The
        sinks are read in this process with pyarrow and the csv module,
        not with Spark, so no Spark job runs between timed runs."""
        import pyarrow as pa

        try:
            return self._mismatches(out)
        except (OSError, pa.ArrowException) as exc:
            return [f"unreadable output under {out}: {str(exc)[:300]}"]

    def _mismatches(self, out: str) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = self.inputs["truths"]
        bad: list[str] = []

        def expect(what: str, got, want) -> None:
            if got != want:
                bad.append(f"{what}: got {got}, want {want}")

        def sink(name: str, columns: list[str]):
            return pq.read_table(os.path.join(out, name), columns=columns)

        merged = sink("merged", ["clicks", "impressions", "sessions"])
        expect("merged rows", merged.num_rows, t["merged_rows"])
        for k in ("clicks", "impressions", "sessions"):
            expect(f"{k} total", round(pc.sum(merged[k]).as_py() or 0), t[k])
        expect("schema_gaps rows", sink("schema_gaps", ["url"]).num_rows, t["schema_gaps_rows"])
        under = sink("ctr_underperf", ["missed_clicks"])["missed_clicks"]
        lo = pc.min(under).as_py()
        if not (0 < len(under) <= t["ctr_debug_rows"]) or not (lo is not None and lo > 0):
            bad.append(
                f"ctr_underperf: {len(under)} rows (min missed_clicks {lo}),"
                f" want 1..{t['ctr_debug_rows']} rows with missed_clicks > 0"
            )
        expect("ctr_debug rows", sink("ctr_debug", ["url"]).num_rows, t["ctr_debug_rows"])
        csv_rows = 0
        for part in glob.glob(os.path.join(out, "merged_csv", "part-*")):
            with open(part, newline="") as fh:
                csv_rows += max(sum(1 for _ in csv.reader(fh)) - 1, 0)
        expect("merged_csv rows", csv_rows, t["merged_rows"])
        with open(os.environ["ETL_RUN_LOG_PATH"]) as fh:
            last = fh.read().strip().splitlines()[-1].split(",")
        expect("run log rows_merged", int(last[2]), t["merged_rows"])
        return bad

    # -- traced run -----------------------------------------------------

    def trace(self, tracer) -> tuple[dict[str, float], list[str], float]:
        """Per-layer spans: each lazy layer materialized to the noop
        sink, then one pipeline run with its actions tagged. Returns the
        layer metrics, the output mismatches of the tagged run and its
        seconds."""
        from strategicai_visibility_loop_etl_spark.operators.aggregate import agg_ga4, agg_gsc
        from strategicai_visibility_loop_etl_spark.operators.anomaly import anomaly_ctr_underperf
        from strategicai_visibility_loop_etl_spark.operators.merge import (
            derive_metrics, merge_visibility,
        )
        from strategicai_visibility_loop_etl_spark.operators.scoring import score_expected_ctr
        from strategicai_visibility_loop_etl_spark.sources import loaders
        from strategicai_visibility_loop_etl_spark.sources.readers import load_table_any

        sp = tracer.span
        srcs = ("frog", "gsc", "ga4")
        load = {"frog": loaders.load_frog, "gsc": loaders.load_gsc, "ga4": loaders.load_ga4}
        cp_key = "spark.sql.constraintPropagation.enabled"
        cp_prev = self.spark.conf.get(cp_key, "true")
        # The pipeline runs its plans with constraint propagation off;
        # so do the layer materializations.
        self.spark.conf.set(cp_key, "false")
        try:
            for s in srcs:
                with sp(f"ingest.{s}"):
                    _noop(load_table_any(self.spark, self.inputs[s]))
            loaded = {}
            with sp("sources.eager"):
                for s in srcs:
                    loaded[s] = load[s](self.spark, self.inputs[s], gen.SITE_BASE)
            for s in srcs:
                with sp(f"loaded.{s}"):
                    _noop(loaded[s])
            gsc, ga4 = agg_gsc(loaded["gsc"]), agg_ga4(loaded["ga4"])
            with sp("agg.gsc"):
                _noop(gsc)
            with sp("agg.ga4"):
                _noop(ga4)
            merged = derive_metrics(merge_visibility(loaded["frog"], gsc, ga4))
            with sp("merge"):
                _noop(merged)
            scored = score_expected_ctr(merged, self.cfg)
            with sp("score"):
                _noop(scored)
            with sp("anomaly"):
                _noop(anomaly_ctr_underperf(scored, self.cfg))
        finally:
            self.spark.conf.set(cp_key, cp_prev)

        t_pipe, bad = self._tagged_pipeline(tracer)
        bad = ["; ".join(bad)] if bad else []

        S = tracer.spans
        ingest = [f"ingest.{s}" for s in srcs]
        loads = [f"loaded.{s}" for s in srcs]
        aggs = ["agg.gsc", "agg.ga4"]
        merge_in = ["loaded.frog", *aggs]
        pipe = [n for n in S if n == "pipeline" or n.startswith("pipeline.")]

        def total(names, attr):
            return sum(getattr(S[n], attr) for n in names)

        def shuffle(names):
            return total(names, "shuffle_write_bytes")

        def action_s(kind):
            return total([n for n in pipe if n.startswith(f"pipeline.{kind}#")], "wall_s")

        m = {
            "sources.ingest_s": total(ingest, "wall_s"),
            "sources.eager_s": S["sources.eager"].wall_s,
            "sources.jobs": S["sources.eager"].jobs,
            "functions.normalize_self_s": total(loads, "wall_s") - total(ingest, "wall_s"),
            "aggregate.self_s": tracer.self_s("agg.gsc", ["loaded.gsc"])
            + tracer.self_s("agg.ga4", ["loaded.ga4"]),
            "aggregate.shuffle_bytes": shuffle(aggs) - shuffle(["loaded.gsc", "loaded.ga4"]),
            "merge.self_s": tracer.self_s("merge", merge_in),
            "merge.shuffle_bytes": shuffle(["merge"]) - shuffle(merge_in),
            "merge.spill_bytes": total(["merge"], "spill_bytes") - total(merge_in, "spill_bytes"),
            "score.self_s": tracer.self_s("score", ["merge"]),
            "score.jobs": S["score"].jobs - S["merge"].jobs,
            "anomaly.self_s": tracer.self_s("anomaly", ["score"]),
            "pipeline.stage_s": action_s("stage"),
            "pipeline.merged_write_s": action_s("merged_write"),
            "pipeline.csv_mirror_s": action_s("csv_mirror"),
            "pipeline.csv_mirror_bytes": sum(
                spans.tree_bytes(os.path.join(self._last_out, d))
                for d in os.listdir(self._last_out) if d.endswith("_csv")
            ),
            "pipeline.slices_s": action_s("slices"),
            "pipeline.runlog_count_s": action_s("runlog_count"),
            "pipeline.jobs": total(pipe, "jobs"),
            "pipeline.stages": total(pipe, "stages"),
            "pipeline.tasks": total(pipe, "tasks"),
        }
        return m, bad, t_pipe

    def _tagged_pipeline(self, tracer) -> tuple[float, list[str]]:
        """One pipeline run whose Spark actions each run in a span named
        after what they write."""
        from strategicai_visibility_loop_etl_spark.plans.pipeline import (
            run_visibility_pipeline,
        )

        out = self._fresh_out()
        self._last_out = out
        with _tag_actions(tracer, out), tracer.span("pipeline") as whole:
            run_visibility_pipeline(
                self.spark, self.cfg, self.inputs["frog"], self.inputs["gsc"],
                self.inputs["ga4"], out_dir=out,
            )
        return whole.wall_s, self.check(out)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def _tag_actions(tracer, out: str):
    """Wrap the pipeline's writer and count calls in spans, by target.

    ``pipeline.<kind>#<n>``: ``stage`` is the merge staging write,
    ``merged_write`` the merged parquet, ``slices`` the other parquet
    sinks, ``csv_mirror`` the CSV sinks and the formatter's aggregate,
    ``runlog_count`` the run log's row count.
    """
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    orig = {
        "parquet": DataFrameWriter.parquet,
        "csv": DataFrameWriter.csv,
        "count": DataFrame.count,
        "first": DataFrame.first,
    }
    seq = [0]

    def tagged(kind, fn):
        def call(*a, **kw):
            seq[0] += 1
            with tracer.span(f"pipeline.{kind}#{seq[0]}"):
                return fn(*a, **kw)
        return call

    def parquet(self, path, *a, **kw):
        rel = os.path.relpath(path, out)
        kind = "stage" if rel.startswith("_stage") else (
            "merged_write" if rel == "merged" else "slices")
        return tagged(kind, orig["parquet"])(self, path, *a, **kw)

    DataFrameWriter.parquet = parquet
    DataFrameWriter.csv = tagged("csv_mirror", orig["csv"])
    DataFrame.count = tagged("runlog_count", orig["count"])
    DataFrame.first = tagged("csv_mirror", orig["first"])
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig["parquet"]
        DataFrameWriter.csv = orig["csv"]
        DataFrame.count = orig["count"]
        DataFrame.first = orig["first"]
