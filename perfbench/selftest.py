"""Self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks that:

1. every workload, with ``--trace 0`` and ``--trace 1``, prints as its
   last line a result with exactly the contract's keys, passes its
   correctness gate, and reports every metric ``BENCHMARK.json`` names
   with that metric's unit;
2. a corrupted output fails the correctness gate (a merged parquet part
   deleted; a registry result missing a row);
3. job and stage counts per span repeat exactly across two traced runs;
4. a directory holding only ``BENCHMARK.json`` and the benchmark's files
   makes the benchmark exit non-zero without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 300


def fail(msg: str) -> None:
    print(f"FAIL: {msg}", flush=True)
    sys.exit(1)


def run_cli(cwd: str, workload: str, trace: int, tiny: bool = True) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)] + (["--tiny"] if tiny else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S)


def check_cli(bench: dict) -> None:
    for w in (x["name"] for x in bench["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = run_cli(ROOT, w, trace)
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: {res['attempted']} attempted, {res['failed']} failed")
            want = {m["name"]: m["unit"] for m in bench[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics/units differ: {set(got.items()) ^ set(want.items())}")
            print(f"ok: {w} trace={trace} prints {len(got)} metrics with units", flush=True)


def check_in_process() -> None:
    import run

    work = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    run.isolate(work)
    sys.path.insert(0, ROOT)
    import spans
    from registry import DATA_DIR, RegistryWorkload
    from vis import VisWorkload

    spark, _ = run.start_session()
    try:
        vis = VisWorkload(spark, 7, work, tiny=True)
        vis.prepare()
        reg = RegistryWorkload(spark, 7, work, tiny=True)
        reg.prepare()

        # 2. corrupted outputs fail the gate.
        if vis.run()[2]:
            fail("vis: clean output failed the gate")
        out = os.path.join(work, "out", str(vis._runs - 1))
        os.remove(sorted(glob.glob(os.path.join(out, "merged", "part-*")))[0])
        if not vis.check(out):
            fail("vis: output with a deleted merged part passed the gate")
        q = reg.queries[0]
        df = reg.fns[q](spark, DATA_DIR)
        if reg.check(q, df):
            fail(f"{q}: clean output failed the gate")
        short = df.limit(max(df.count() - 1, 0))
        if not reg.check(q, short):
            fail(f"{q}: output missing a row passed the gate")
        print("ok: corrupted outputs fail the correctness gate", flush=True)

        # 3. job and stage counts per span repeat.
        for wl in (vis, reg):
            counts = []
            for _ in range(2):
                tracer = spans.Tracer(spark)
                wl.trace(tracer)
                counts.append({n: (s.jobs, s.stages) for n, s in tracer.spans.items()
                               if not n.startswith("pipeline.")})
                # Pipeline action spans are numbered by call order.
                counts[-1]["pipeline.*"] = sorted(
                    (n.split("#")[0], s.jobs, s.stages)
                    for n, s in tracer.spans.items() if n.startswith("pipeline."))
            if counts[0] != counts[1]:
                fail(f"{type(wl).__name__}: span counts differ: {counts}")
        print("ok: job and stage counts per span repeat across two traced runs", flush=True)
    finally:
        run.stop_session(spark)
        run.cleanup(work)


def check_bare_dir() -> None:
    import run

    bare = os.path.join(ROOT, ".perfbench_tmp", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run_cli(bare, "vis_querylevel", 0, tiny=False)
        last = (p.stdout.strip().splitlines() or [""])[-1]
        if p.returncode == 0 or last.startswith("{"):
            fail(f"bare directory: exit {p.returncode}, last line {last!r}")
        print("ok: without the program the benchmark exits non-zero, no result", flush=True)
    finally:
        run.cleanup(bare)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_bare_dir()
    check_cli(bench)
    check_in_process()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
