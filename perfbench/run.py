"""Benchmark of lucene_spark: query serving and training-data curation.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

Run from the root of a checkout. One workload runs in one process, through
the public API of lucene_spark with its default settings, from one
closed-loop client. ``--workload all`` runs each workload in its own child
process and prints a table of every metric.

Each run: start Spark, make the inputs from ``--seed``, set up several times
(``setup_s`` is the median of the set-ups after the first, cold ones), warm
up untimed until the per-class latency stops falling, then run whole cycles
of ops until ``--seconds`` of op time have passed (and at least the
workload's ``min_cycles``). Every answer is checked outside the timed span.

The second to last line of stdout is the run record (host, warm-up,
per-class latency, layers). The last line is the result
``{"correct", "attempted", "failed", "metrics"}``, whose metrics are those of
BENCHMARK.json: end-to-end with ``--trace 0``, per-layer with ``--trace 1``.
With ``--trace 1`` the timed cycles alternate untraced / traced, starting
and ending untraced, so the record also states the tracing overhead of each
traced cycle against the mean of its two untraced neighbours. A traced run
then runs the workload's traced-only phase (``serve``: the NRT write path).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC_FILE = ROOT / "BENCHMARK.json"
WORKLOADS = ("serve", "curate")
#: warm-up ends when no class's rolling median fell by more than this share
DRIFT = 0.05


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_record(parallelism: int, heap: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "spark_parallelism": parallelism,
        "driver_heap": heap,
        "loadavg_start": os.getloadavg(),
        "commit": commit,
    }


def driver_heap() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def start_spark(work: Path, parallelism: int, heap: str):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temporary files stay in the checkout: this process, the Python
    # workers (TMPDIR) and the JVM (java.io.tmpdir; no hsperfdata file)
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName("perfbench")
        .config("spark.driver.memory", heap)
        # the repo's bench.py runs with ParallelGC: G1's pacing serialized
        # executor threads in local mode (BENCH.md methodology)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.sql.shuffle.partitions", str(parallelism))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cache_bytes(spark) -> int:
    """Bytes the block manager holds, in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def p50_if_supported(xs):
    """The median, but only with at least ten samples above it."""
    return statistics.median(xs) if len(xs) >= 20 else None


class Runner:
    """The closed loop: warm-up, timed cycles, checks and per-op spans."""

    def __init__(self, wl, tracer, trace: bool):
        self.wl, self.tr, self.trace = wl, tracer, trace
        self.ops: list[dict] = []

    def run_op(self, phase: str, cls: str, arg, traced: bool) -> dict:
        op_id = f"{phase}-{len(self.ops)}"
        self.tr.enabled = traced
        out = None
        t0 = time.perf_counter()
        try:
            with self.tr.op(op_id, cls):
                out = self.wl.run(cls, arg, self.tr)
            ms = (time.perf_counter() - t0) * 1000
            self.tr.enabled = False
            ok = self.wl.check(cls, arg, out)
        except Exception:  # a failed op is counted, reported and the loop goes on
            ms = (time.perf_counter() - t0) * 1000
            self.tr.enabled = False
            traceback.print_exc()
            ok = False
        if traced:
            self.tr.harvest(self.tr.op_spans(op_id))
        op = {"id": op_id, "phase": phase, "cls": cls, "ms": ms, "ok": ok, "traced": traced}
        if phase == "trace" and out is not None:
            op["out"] = out
        self.ops.append(op)
        return op

    def cycle(self, phase: str, traced: bool) -> list[dict]:
        return [self.run_op(phase, cls, arg, traced) for cls, arg in self.wl.next_cycle()]

    def warm_up(self) -> dict:
        """Untimed cycles until no class's rolling median (over the last
        ``warm_window`` cycles) is more than ``DRIFT`` below the one before
        it, or the workload's cap on warm-up cycles or op time is hit;
        ``warmup_s`` is the op time this took."""
        wl, w = self.wl, self.wl.warm_window
        cycles: list[dict[str, list[float]]] = []
        spent, steady = 0.0, False
        while len(cycles) < wl.warm_max and spent < wl.warm_max_s:
            ops = self.cycle("warm", False)
            spent += sum(o["ms"] for o in ops) / 1000
            cycles.append(by_class(ops))
            if len(cycles) >= 2 * w:
                new, old = cycles[-w:], cycles[-2 * w : -w]
                drift = max(
                    1 - statistics.median(x for c in new for x in c[k])
                    / statistics.median(x for c in old for x in c[k])
                    for k in cycles[-1]
                )
                if drift < DRIFT:
                    steady = True
                    break
        ops = [o for o in self.ops if o["phase"] == "warm"]
        return {
            "warmup_s": spent,
            "warmup_ops": len(ops),
            "warm": steady,
            "warmup_ms": [round(o["ms"], 1) for o in ops],
        }

    def timed(self, seconds: float) -> list[list[dict]]:
        """Whole cycles until ``seconds`` of op time, and at least the
        workload's ``min_cycles``. With tracing, cycles alternate untraced /
        traced, and the window starts and ends with an untraced cycle."""
        cycles, spent = [], 0.0
        need = max(self.wl.min_cycles, 3 if self.trace else 0)
        while (
            spent < seconds * 1000
            or len(cycles) < need
            or (self.trace and len(cycles) % 2 == 0)
        ):
            ops = self.cycle("timed", self.trace and len(cycles) % 2 == 1)
            cycles.append(ops)
            spent += sum(o["ms"] for o in ops)
        return cycles


def by_class(ops: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o["cls"], []).append(o["ms"])
    return out


def summarize(cycles: list[list[dict]], bound: float) -> dict:
    """End-to-end figures of the timed window (untraced cycles only)."""
    plain = [c for c in cycles if not c[0]["traced"]] or cycles
    ops = [o for c in plain for o in c]
    total_s = sum(o["ms"] for o in ops) / 1000
    half = len(plain) // 2
    halves = None
    if half:
        a = sum(o["ms"] for c in plain[:half] for o in c)
        b = sum(o["ms"] for c in plain[-half:] for o in c)
        halves = [a / half / 1000, b / half / 1000]
    classes = {
        cls: {
            "n": len(xs),
            "mean_ms": statistics.fmean(xs),
            "p50_ms": p50_if_supported(xs),
        }
        for cls, xs in by_class(ops).items()
    }
    return {
        "ops": len(ops),
        "ops_per_s": len(ops) / total_s,
        "cycle_s": [sum(o["ms"] for o in c) / 1000 for c in plain],
        "cycle_s_halves": halves,
        "steady": halves is None or abs(halves[1] / halves[0] - 1) <= bound,
        "classes": classes,
    }


def trace_overhead(cycles: list[list[dict]]) -> tuple[float, int]:
    """Mean over traced cycles of (traced cycle time / mean of its two
    untraced neighbours - 1), in percent, and the number of such pairs."""
    t = [sum(o["ms"] for o in c) for c in cycles]
    ratios = [
        t[i] / ((t[i - 1] + t[i + 1]) / 2) - 1
        for i in range(1, len(cycles) - 1)
        if cycles[i][0]["traced"]
    ]
    return statistics.fmean(ratios) * 100, len(ratios)


def layer_metrics(tr, ops: list[dict]) -> tuple[dict, dict]:
    """Per-op means of each layer over the traced ops: overall, and per
    class. Spans named ``plan:*`` build lazy results (driver planning,
    plus any job the library runs eagerly); ``exec:*`` spans are actions."""
    from spans import COUNTERS

    def one(sel: list[dict]) -> dict:
        acc = dict.fromkeys(
            COUNTERS + ("plan_ms", "plan_jobs", "parse_ms", "exec_ms", "op_ms"), 0.0
        )
        for o in sel:
            acc["op_ms"] += o["ms"]
            for s in tr.op_spans(o["id"]):
                for k in COUNTERS:
                    acc[k] += s.get(k, 0)
                dur = (s["end"] - s["start"]) * 1000
                if s["name"].startswith("plan:"):
                    acc["plan_ms"] += dur
                    acc["plan_jobs"] += s.get("jobs", 0)
                if s["name"] == "plan:queryparser.parse":
                    acc["parse_ms"] += dur
                if s["name"].startswith("exec:"):
                    acc["exec_ms"] += dur
        n = max(1, len(sel))
        out = {k: v / n for k, v in acc.items()}
        out["python_and_io_ms"] = out["executor_run_ms"] - out["executor_cpu_ms"]
        out["n"] = len(sel)
        return out

    traced = [o for o in ops if o["traced"]]
    per_class = {}
    for o in traced:
        per_class.setdefault(o["cls"], []).append(o)
    return one(traced), {c: one(v) for c, v in per_class.items()}


def stage_metrics(tr, ops: list[dict]) -> dict:
    """Per-op means of each ``pipeline.*`` span: its time and the Spark
    counters of the jobs it and its children ran."""
    from spans import COUNTERS

    acc: dict[str, dict] = {}
    traced = [o for o in ops if o["traced"]]
    for o in traced:
        spans = tr.op_spans(o["id"])
        for st in (s for s in spans if s["name"].startswith("pipeline.")):
            a = acc.setdefault(st["name"][len("pipeline."):], dict.fromkeys(("ms",) + COUNTERS, 0.0))
            a["ms"] += (st["end"] - st["start"]) * 1000
            for s in [st] + [s for s in spans if s["parent"] == st["id"]]:
                for k in COUNTERS:
                    a[k] += s.get(k, 0)
    return {name: {k: v / len(traced) for k, v in a.items()} for name, a in acc.items()}


def run_workload(args) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    import spans

    t_start = time.perf_counter()
    phases = {}
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    parallelism = min(4, os.cpu_count() or 1)
    heap = driver_heap()
    host = host_record(parallelism, heap)
    spark = start_spark(work, parallelism, heap)
    phases["start"] = time.perf_counter() - t_start
    try:
        if args.workload == "serve":
            import serve as mod
        else:
            import curate as mod
        tr = spans.Tracer(spark.sparkContext)
        wl = mod.Workload(spark, args.seed, work)
        setups = []
        for i in range(wl.setups):
            wl.reset()
            tr.enabled = bool(args.trace) and i == wl.setups - 1
            t0 = time.perf_counter()
            with tr.op(f"setup-{i}", "setup"):
                wl.setup(tr)
            setups.append(time.perf_counter() - t0)
        tr.enabled = False
        phases["setup"] = sum(setups)
        setup_spans = [s for s in tr.spans if s["op"] == f"setup-{wl.setups - 1}"]
        if setup_spans:
            tr.harvest(setup_spans)
        cached = cache_bytes(spark)
        inputs = wl.describe()
        runner = Runner(wl, tr, bool(args.trace))
        t0 = time.perf_counter()
        warm = runner.warm_up()
        phases["warmup"] = time.perf_counter() - t0
        spec = json.loads(SPEC_FILE.read_text())
        bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "ops_per_s")
        t0 = time.perf_counter()
        cycles = runner.timed(args.seconds)
        phases["timed"] = time.perf_counter() - t0
        summary = summarize(cycles, bound)
        trace_ops = []
        if args.trace and wl.trace_ops():
            wl.reset()  # the timed window is over: free the serving layout
            t0 = time.perf_counter()
            trace_ops = [runner.run_op("trace", c, a, True) for c, a in wl.trace_ops()]
            phases["trace_phase"] = time.perf_counter() - t0
        extra_ok, extra = wl.final_checks()
        host["loadavg_end"] = os.getloadavg()
        failed = sum(not o["ok"] for o in runner.ops) + (not extra_ok)
        attempted = len(runner.ops)
        e2e = {
            "setup_s": {
                "value": statistics.median(setups[wl.setups_untimed:]),
                "unit": "s",
                "n": len(setups) - wl.setups_untimed,
            },
            "ops_per_s": {"value": summary["ops_per_s"], "unit": "1/s", "n": summary["ops"]},
            "success_rate": {
                "value": (attempted - failed) / attempted, "unit": "frac", "n": attempted
            },
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "inputs": inputs,
            "setup_runs_s": setups,
            "metrics": e2e,
            "warmup": warm,
            "steady": summary["steady"],
            "cycle_s": summary["cycle_s"],
            "cycle_s_halves": summary["cycle_s_halves"],
            "classes": summary["classes"],
            "checks": extra,
            "failed_ops": [f"{o['id']}:{o['cls']}" for o in runner.ops if not o["ok"]],
            "phases_s": phases,
        }
        layers = {}
        if args.trace:
            overall, per_class = layer_metrics(tr, [o for c in cycles for o in c])
            overhead, pairs = trace_overhead(cycles)
            layers = dict(overall)
            layers.update(
                warmup_s=warm["warmup_s"],
                warmup_ops=warm["warmup_ops"],
                cache_bytes=cached,
                trace_overhead_pct=overhead,
                trace_overhead_n=pairs,
            )
            layers.update(wl.setup_layers(setup_spans))
            if trace_ops:
                record["trace_ops_ms"] = {o["id"]: o["ms"] for o in trace_ops}
                if all("out" in o for o in trace_ops):
                    record["layers_trace_phase"] = wl.trace_layers(tr, trace_ops)
            record["layers"] = layers
            record["layers_by_class"] = per_class
            stages = stage_metrics(tr, [o for c in cycles for o in c])
            if stages:
                record["layers_by_stage"] = stages
            tr.write(str(work / "spans.jsonl"))
            record["spans_file"] = str((work / "spans.jsonl").relative_to(ROOT))
        if not summary["steady"]:
            print(
                f"perfbench: unsteady window: cycle seconds by half {summary['cycle_s_halves']}",
                file=sys.stderr,
            )
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        source = layers if args.trace else {k: v["value"] for k, v in e2e.items()}
        metrics = {
            m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted
        }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return record, result
    finally:
        stop_spark(spark)


def unit_of(name: str) -> str:
    for suffix, unit in (
        ("_ms", "ms"), ("_bytes", "bytes"), ("_per_input_byte", "B/B"), ("_pct", "%"), ("_s", "s")
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def run_all(args) -> int:
    """Each workload in its own process; a table of every metric."""
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            sys.stderr.write(out.stderr)
            print(f"perfbench: workload {w} failed (exit {out.returncode})", file=sys.stderr)
            return 1
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        for name, m in record["metrics"].items():
            rows.append((w, name, m["value"], m["unit"], m["n"]))
        for cls, c in record["classes"].items():
            rows.append((w, f"{cls}_mean_ms", c["mean_ms"], "ms", c["n"]))
            if c["p50_ms"] is not None:
                rows.append((w, f"{cls}_p50_ms", c["p50_ms"], "ms", c["n"]))
        layers = record.get("layers", {})
        for name, v in layers.items():
            if name not in ("n", "trace_overhead_n"):
                n = layers["trace_overhead_n"] if name == "trace_overhead_pct" else layers["n"]
                rows.append((w, f"layer.{name}", v, unit_of(name), n))
        nrt = record.get("layers_trace_phase", {})
        for name, v in nrt.items():
            if name != "nrt_ops":
                rows.append((w, f"layer.{name}", v, unit_of(name), nrt["nrt_ops"]))
        rows.append((w, "correct", result["correct"], "", result["attempted"]))
    print(f"{'workload':9} {'metric':32} {'value':>14} {'unit':6} {'n':>6}")
    for w, name, v, unit, n in rows:
        val = f"{v:14.4f}" if isinstance(v, float) else f"{str(v):>14}"
        print(f"{w:9} {name:32} {val} {unit:6} {str(n):>6}")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "lucene_spark" / "__init__.py").is_file() or not SPEC_FILE.is_file():
        print(
            f"perfbench: run from a checkout of lucene_spark; {ROOT} has no "
            "lucene_spark package or no BENCHMARK.json",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return run_all(args)
    record, result = run_workload(args)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
