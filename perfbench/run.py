"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Starts the engine's Spark session on ``local[<cpus>]``, builds the
workload's warm state, runs its ops one after another from a single
closed-loop client for ``--seconds`` (whole units: a serve request cycle or
a curate pass), checks every output, and prints one
JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import tracer as tracing  # noqa: E402
from workloads import SCALES, WORKLOADS  # noqa: E402

# The session factory sizes the heap at half the host's memory; the
# benchmark fixes it so every host runs the same JVM shape, and small.
DRIVER_MEM = "2g"


class Runner:
    """Runs and records ops. An op builds its DataFrame through the public
    API and, for reads, materializes the full result as Arrow; writes are
    materialized by the call itself. Timing covers exactly that."""

    def __init__(self, spark, tracer, seconds: float):
        self.spark, self.tracer, self.seconds = spark, tracer, seconds
        self.records: list[dict] = []
        self.attempted = self.failed = 0
        self._count: dict[str, int] = defaultdict(int)

    def units(self):
        """Units of the timed body, as ``(index, traced)``: whole units until
        ``seconds`` have passed (at least one), or one instrumented unit in
        a traced run."""
        if self.tracer is not None:
            yield 0, True
            return
        t0, i = time.perf_counter(), 0
        while i == 0 or time.perf_counter() - t0 < self.seconds:
            yield i, False
            i += 1

    def overhead_probe(self, probe) -> None:
        """Run the workload's probe op three times bare and three times
        instrumented, alternately, so a traced run reports its own
        overhead."""
        if self.tracer is not None:
            for _ in range(3):
                probe(False)
                probe(True)

    def op(self, name, build, collect=False, traced=None, args=None, result=None, kind=None):
        tr = self.tracer
        traced = tr is not None and (traced is None or traced)
        n = self._count[name]
        self._count[name] += 1
        rec = {"op": name, "kind": kind or name, "i": n, "traced": traced,
               "setup": name.startswith(("setup.", "probe."))}
        if not rec["setup"]:
            self.attempted += 1
        sc = self.spark.sparkContext
        try:
            if traced:
                op_id = rec["op_id"] = f"{name}#{n}"
                try:
                    with tr.op(op_id) as osid:
                        sc.setJobGroup(op_id + "/construct", op_id)
                        with tr.span("driver.construct") as csid:
                            df = build()
                        table = None
                        if collect:
                            sc.setJobGroup(op_id + "/sink", op_id)
                            with tr.span("exec.sink") as ssid:
                                table = df.toArrow()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                if collect:
                    tr.catalyst_phases(df._jdf, [csid, ssid], op_id)
                s = tr.spans[osid]
                wall = s["end"] - s["start"]
            else:
                t0 = time.perf_counter()
                df = build()
                table = df.toArrow() if collect else None
                wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            if rec["setup"]:
                raise
            rec["failed"] = True
            self.failed += 1
            self.records.append(rec)
            return
        rec["wall_s"] = wall
        if collect:
            rec["table"] = table
            cols, rows = checks.table_rows(table)
        elif result is not None:
            cols, rows = result()
        else:
            cols, rows = [], []
        rec["rows"], rec["hash"] = len(rows), checks.result_hash(cols, rows)
        if args is not None:
            rec["args"] = args
        self.records.append(rec)

    def timed(self) -> list[dict]:
        return [r for r in self.records if not r["setup"] and not r.get("failed")]


# -- host context (recorded beside the metrics, never folded into them) ---------


def read_steal() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def calibration_s() -> float:
    """Median of 3 timings of a fixed CPU workload: a machine-speed
    constant independent of the engine."""
    def once() -> float:
        t0 = time.perf_counter()
        a = np.arange(200_000, dtype=np.float64)
        for _ in range(10):
            np.sort(np.sin(a * 1.0001))
        sum(i * i for i in range(300_000))
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


# -- Spark state probes -----------------------------------------------------------


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def cached_bytes(spark) -> int:
    """Bytes of persisted DataFrames/RDDs Spark holds in memory and on disk."""
    return sum(i.memSize() + i.diskSize() for i in spark._jsc.sc().getRDDStorageInfo())


# -- processes ---------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, from the state on."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> set[int]:
    """Every process under ``root``, ended but unreaped ones included."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _proc_stat(int(d))) is not None:
            kids[int(st[1])].append(int(d))
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def _alive(pid: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _wait_gone(pids: set[int], seconds: float) -> set[int]:
    """Wait up to ``seconds`` for ``pids`` to end; return those still alive."""
    deadline = time.monotonic() + seconds
    while True:
        _reap()
        pids = {p for p in pids if _alive(p)}
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.05)


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark gateway JVM and every process under this one (Python
    workers, launcher shells), and wait until each has ended.

    ``SparkSession.stop()`` leaves the gateway JVM running until this
    process exits, and the JVM's Python workers end after it, so a bare
    exit leaves both behind for a moment. The JVM exits when its stdin
    closes; whatever is still alive after ``grace_s`` is terminated, then
    killed."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            pass
    pids = _wait_gone(pids | descendants(os.getpid()), grace_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        pids = _wait_gone(pids, 10.0)
    # every process of the tree has ended; those whose parent ended first
    # were handed to this process (see adopt_orphans), so one more pass
    # collects the last exit statuses and leaves no zombie behind
    _reap()
    if pids:
        print(f"perfbench: processes {sorted(pids)} did not end", file=sys.stderr)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    a Python worker which outlives the JVM that started it is handed to
    this process and not to init, and ``stop_processes`` can wait for it
    and collect its exit status."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _exit_on_sigterm(signum, frame):
    # a SIGTERM unwinds like an exception, so the session and its processes
    # are stopped on the way out
    sys.exit(128 + signum)


# -- metrics -----------------------------------------------------------------------


def e2e_metrics(wl, rn, setup_s: float, footprint: float) -> dict:
    head = [r["wall_s"] for r in rn.timed() if r["kind"] == wl.headline]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(head), "s"),
        "throughput_per_s": (wl.throughput(rn), "1/s"),
        "recall": (wl.recall(rn), "ratio"),
        "footprint_ratio": (footprint, "ratio"),
    }


OP_FIELDS = ("wall_s", "db_construct_s", "db_eager_jobs", "catalyst_plan_s", "exec_sink_s",
             "exec_tasks", "exec_cpu_s", "exec_gc_s", "exec_shuffle_bytes", "exec_python_s",
             "exec_rows_scanned_per_result", "self_driver_s", "self_catalyst_s", "self_sink_s",
             "self_modules_s", "accounted_share")


def op_layers(rec: dict, spans: list[dict], selfs: dict, ev: dict) -> dict:
    """One instrumented op's layer split."""
    dur = defaultdict(float)
    self_by = defaultdict(float)
    for s in spans:
        if s["op_id"] != rec["op_id"]:
            continue
        dur[s["name"]] += s["end"] - s["start"]
        layer = s["name"]
        if layer.startswith("catalyst."):
            layer = "catalyst"
        elif layer not in ("op", "driver.construct", "exec.sink"):
            layer = "modules"
        self_by[layer] += selfs[s["id"]]
    con = ev.get(rec["op_id"] + "/construct", {})
    snk = ev.get(rec["op_id"] + "/sink", {})
    tot = {k: con.get(k, 0.0) + snk.get(k, 0.0)
           for k in ("tasks", "cpu_s", "gc_s", "shuffle_bytes", "python_s", "rows_scanned")}
    wall = dur["op"]
    return {
        "wall_s": wall,
        "db_construct_s": dur["driver.construct"],
        "db_eager_jobs": con.get("jobs", 0.0),
        "catalyst_plan_s": sum(v for k, v in dur.items() if k.startswith("catalyst.")),
        "exec_sink_s": dur["exec.sink"],
        "exec_tasks": tot["tasks"],
        "exec_cpu_s": tot["cpu_s"],
        "exec_gc_s": tot["gc_s"],
        "exec_shuffle_bytes": tot["shuffle_bytes"],
        "exec_python_s": tot["python_s"],
        "rows_scanned": tot["rows_scanned"],
        "exec_rows_scanned_per_result": tot["rows_scanned"] / max(rec.get("rows", 0), 1),
        "self_driver_s": self_by["driver.construct"],
        "self_catalyst_s": self_by["catalyst"],
        "self_sink_s": self_by["exec.sink"],
        "self_modules_s": self_by["modules"],
        "accounted_share": 1.0 - self_by["op"] / wall if wall > 0 else 0.0,
    }


def _share(part: float, whole: float) -> float:
    return part / whole if whole > 0 else 0.0


def layer_metrics(wl, rn, tracer, ev: dict, extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics, common to every workload, and the per-op-kind
    breakdown ``<op>.<quantity>`` for the run record.

    Times are reported only for layers every workload passes through; a
    layer some workload never touches is reported as a count, a byte total
    or a share of time, so no time reads a constant 0."""
    selfs = tracing.self_times(tracer.spans)
    split = {id(r): op_layers(r, tracer.spans, selfs, ev)
             for r in rn.records if r.get("op_id") and not r.get("failed")}
    by_kind = defaultdict(list)
    for r in rn.records:
        if id(r) in split:
            by_kind[r["op"]].append(split[id(r)])
    per_op = {f"{k}.{f}": statistics.median(x[f] for x in v) for k, v in by_kind.items() for f in OP_FIELDS}

    def med(xs, f):
        return statistics.median(x[f] for x in xs) if xs else 0.0

    head = [split[id(r)] for r in rn.timed() if id(r) in split and r["kind"] == wl.headline]
    m: dict[str, tuple] = {
        "headline.wall_s": (med(head, "wall_s"), "s"),
        "headline.db_construct_s": (med(head, "db_construct_s"), "s"),
        "headline.db_eager_jobs": (med(head, "db_eager_jobs"), "count"),
        "headline.catalyst_plan_s": (med(head, "catalyst_plan_s"), "s"),
        "headline.exec_sink_s": (med(head, "exec_sink_s"), "s"),
        "headline.exec_tasks": (med(head, "exec_tasks"), "count"),
        "headline.exec_cpu_s": (med(head, "exec_cpu_s"), "s"),
        "headline.exec_shuffle_bytes": (med(head, "exec_shuffle_bytes"), "bytes"),
        "headline.exec_python_share": (statistics.median(_share(x["exec_python_s"], x["wall_s"]) for x in head)
                                       if head else 0.0, "ratio"),
        "headline.exec_rows_scanned_per_result": (med(head, "exec_rows_scanned_per_result"), "ratio"),
    }
    for layer in ("driver", "catalyst", "sink", "modules"):
        m[f"headline.self_{layer}_share"] = (
            statistics.median(_share(x[f"self_{layer}_s"], x["wall_s"]) for x in head) if head else 0.0, "ratio")
    m["headline.accounted_share"] = (med(head, "accounted_share"), "ratio")

    timed = [split[id(r)] for r in rn.timed() if id(r) in split]
    tot = {f: sum(x[f] for x in timed) for f in OP_FIELDS + ("rows_scanned",)}
    rows = sum(r.get("rows", 0) for r in rn.timed() if id(r) in split)
    for f, unit in (("wall_s", "s"), ("db_construct_s", "s"), ("db_eager_jobs", "count"),
                    ("catalyst_plan_s", "s"), ("exec_sink_s", "s"), ("exec_tasks", "count"),
                    ("exec_cpu_s", "s"), ("exec_gc_s", "s"), ("exec_shuffle_bytes", "bytes")):
        m[f"timed.{f}"] = (tot[f], unit)
    m["timed.exec_python_share"] = (_share(tot["exec_python_s"], tot["wall_s"]), "ratio")
    m["timed.exec_rows_scanned_per_result"] = (tot["rows_scanned"] / max(rows, 1), "ratio")

    # module layers, as shares of all instrumented op time (set-up included)
    traced_wall = sum(x["wall_s"] for x in split.values())
    walls = defaultdict(float)
    for r in rn.records:
        if id(r) in split:
            walls[r["op"].removeprefix("setup.")] += r["wall_s"]
    c = tracer.counters
    routes = {k: v for k, v in c.items() if k.startswith("plans.planner.route.")}
    nprobe, nlist = tracer.samples["operators.ann.nprobe"], tracer.samples["operators.ann.nlist"]
    cand = [r["rows"] for r in rn.records if r["op"] == "minhash_lsh_candidates" and id(r) in split]
    pairs = [r["rows"] for r in rn.records if r["op"] == "minhash_lsh_pairs" and id(r) in split]
    m.update({
        "plans.planner.route.brute_force": (routes.get("plans.planner.route.brute_force", 0.0), "count"),
        "plans.planner.route.ivf": (routes.get("plans.planner.route.ivf", 0.0), "count"),
        "plans.planner.route.other": (sum(routes.values()) - routes.get("plans.planner.route.brute_force", 0.0)
                                      - routes.get("plans.planner.route.ivf", 0.0), "count"),
        "sources.tables.publish_share": (_share(c["sources.tables.publish_s"], traced_wall), "ratio"),
        "sources.tables.publishes": (c["sources.tables.publishes"], "count"),
        "sources.tables.bytes_written": (c["sources.tables.bytes_written"], "bytes"),
        "operators.ann.ivf_build_share": (_share(walls["build_index.ivf"], traced_wall), "ratio"),
        "operators.ann.probe_fraction": (float(np.mean(nprobe)) / nlist[-1] if nprobe and nlist else 0.0, "ratio"),
        "operators.sparse.text_index_build_share": (_share(walls["build_index.text"], traced_wall), "ratio"),
        "operators.payload.index_build_share": (_share(walls["build_index.payload"], traced_wall), "ratio"),
        "operators.dedup.minhash_candidates": (float(cand[-1]) if cand else 0.0, "count"),
        "operators.dedup.minhash_pairs": (float(pairs[-1]) if pairs else 0.0, "count"),
        "operators.dedup.minhash_pair_yield": (_share(pairs[-1], cand[-1]) if cand else 0.0, "ratio"),
    })
    # tracing overhead: instrumented minus bare median of the probe op
    probe = defaultdict(list)
    for r in rn.records:
        if r["op"].startswith("probe.") and not r.get("failed"):
            probe[r["traced"]].append(r["wall_s"])
    bare = statistics.median(probe[False]) if probe[False] else 0.0
    over = statistics.median(probe[True]) - bare if probe[True] and bare else 0.0
    m["trace.overhead_s"] = (over, "s")
    m["trace.overhead_share"] = (_share(over, bare), "ratio")
    m["trace.spans"] = (float(len(tracer.spans)), "count")
    m.update(extra)
    return m, per_op


# -- main ----------------------------------------------------------------------------


def spark_env(work: str, eventlog: str | None) -> None:
    """Keep every file Spark, the JVM and Python workers write under the
    run's work directory, and pin the session shape."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the launcher's too: temp files under the work dir and
        # no perf-data file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    conf = ["--conf", f"spark.sql.warehouse.dir={work}/warehouse"]
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf += tracing.eventlog_config(eventlog)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full",
                    help="input sizes; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the curate workload's query registry)
        from grape_vector_db_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    eventlog = f"{work}/eventlog" if args.trace else None
    spark_env(work, eventlog)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    adopt_orphans()
    try:
        return run(args, work, out_dir, tag, eventlog, get_spark)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, out_dir, tag, eventlog, get_spark) -> int:
    steal0 = read_steal()
    calib = calibration_s()
    phases = {}
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, SCALES[args.scale])
    input_bytes = wl.inputs()
    phases["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark()
    session_start = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install()
    rn = Runner(spark, tracer, args.seconds)
    try:
        gc0 = jvm_gc_s(spark)
        reps = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup(rn)
            reps.append(time.perf_counter() - t0)
        setup_s = session_start + statistics.median(reps)
        t0 = time.perf_counter()
        wl.body(rn)
        phases["body_s"] = time.perf_counter() - t0
        correct, why = True, ""
        try:
            wl.check(rn)
        except checks.CheckFailed as e:
            correct, why = False, str(e)
            print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        if rn.failed:
            correct = False
        phases["check_s"] = time.perf_counter() - t0 - phases["body_s"]
        store = os.path.join(work, "store")
        cached = cached_bytes(spark)
        footprint = (tracing.dir_bytes(store) + cached) / input_bytes
        gc_s = jvm_gc_s(spark) - gc0
        if correct:
            e2e = e2e_metrics(wl, rn, setup_s, footprint)
    finally:
        if tracer is not None:
            tracer.uninstall()
        t0 = time.perf_counter()
        spark.stop()
        phases["stop_s"] = time.perf_counter() - t0
    steal1 = read_steal()

    context = {
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "calibration_s": calib,
        "cpus": len(os.sched_getaffinity(0)),
        "session_start_s": session_start,
        "setup_reps_s": reps,
        "phases_s": phases,
        "input_bytes": input_bytes,
        "check": why or "ok",
    }
    ops = [{k: r.get(k) for k in ("op", "i", "traced", "wall_s", "rows", "hash", "failed")}
           for r in rn.records]
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "context": context, "ops": ops}
    metrics: dict[str, tuple] = {}
    if args.trace:
        ev = tracing.parse_eventlog(eventlog)
        extra = {
            "session.start_s": (session_start, "s"),
            "jvm.gc_s": (gc_s, "s"),
            "spark.cached_mb": (cached / 2**20, "MB"),
            "trace.eventlog_mb": (tracing.dir_bytes(eventlog) / 2**20, "MB"),
        }
        metrics, per_op = layer_metrics(wl, rn, tracer, ev, extra)
        record["per_op"] = per_op
        spans = os.path.join(out_dir, f"{tag}.spans.jsonl")
        tracer.write(spans)
        record["spans"] = os.path.relpath(spans, ROOT)
    elif correct:
        metrics = e2e
    record["metrics"] = {k: v[0] for k, v in metrics.items()}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=float)

    for o in ops:
        print(json.dumps({"op": o}))
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": correct,
        "attempted": rn.attempted,
        "failed": rn.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
