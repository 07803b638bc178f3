"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

1. Runs every workload untraced and traced (``--scale tiny``) and checks
   that the last stdout line carries exactly the metrics BENCHMARK.json
   names, each with its unit, and a passing correctness verdict.
2. Runs a tiny ``serve`` in this process and checks that a corrupted
   result fails the output check: one dropped search hit, and one deleted
   id resurrected into the read after the delete.

Exits non-zero on the first failure. Takes several minutes: each run starts
its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
from workloads import SCALES, WORKLOADS  # noqa: E402


def metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "3", "--seconds", "1",
                                      "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                sys.exit(f"FAIL {w['name']} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or res["attempted"] < 1 or got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                sys.exit(f"FAIL {w['name']} trace={trace}: correct={res['correct']} "
                         f"missing={missing} extra={extra} wrong_unit={wrong}")
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics with units")


def expect_failure(label: str, check) -> None:
    try:
        check()
    except checks.CheckFailed as e:
        print(f"ok   {label} is caught: {e}")
        return
    sys.exit(f"FAIL {label} passed the check")


def corruption() -> None:
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.spark_env(work, None)
    run.adopt_orphans()
    sys.path.insert(0, ROOT)
    from grape_vector_db_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS["serve"](work, 5, SCALES["tiny"])
        wl.inputs()
        rn = run.Runner(spark, None, 0.1)
        wl.setup(rn)
        wl.body(rn)
        wl.check(rn)
        print("ok   serve: uncorrupted outputs pass")
        rec = next(r for r in rn.records if r["op"] == "search")
        kept = rec["table"]
        rec["table"] = kept.slice(0, rec["rows"] - 1)
        expect_failure("a dropped search hit", lambda: wl.check(rn))
        rec["table"] = kept
        rec = next(r for r in rn.records if r["op"] == "setup.read" and r["args"]["m"].kind == "delete")
        dead = rec["args"]["m"].deleted[0]
        back = pa.table({"vec_id": pa.array([dead], pa.int64()),
                         "score": pa.array([1.0], rec["table"].schema.field("score").type)})
        rec["table"] = pa.concat_tables([rec["table"].select(["vec_id", "score"]).slice(0, rec["rows"] - 1), back])
        expect_failure("a resurrected deleted id", lambda: wl.check(rn))
    finally:
        spark.stop()
        run.stop_processes()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    metric_names()
    corruption()
    print("selftest passed")
