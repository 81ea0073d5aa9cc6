"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs each workload once untraced and once traced with a 1-second window and
checks that every answer was correct, that the result line carries exactly
the metric names and units of BENCHMARK.json, that the run record gives
every end-to-end metric with its unit and sample count, that the spans file
has the span fields, and that the traced ``serve`` run reports the NRT
layers. Then checks that the benchmark refuses to run without the library
beside it. Takes about five minutes; runs every check and exits non-zero if
any failed.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SPAN_FIELDS = {"id", "op", "name", "parent", "start", "end", "group", "jobs", "stages", "tasks"}
NRT_LAYERS = {
    "build_segmented_ms", "write_ms", "merge_ms", "refresh_ms", "query_ms", "jobs", "tasks", "merges",
    "live_segments", "bytes_written_per_input_byte", "nrt_ops",
}
FAILURES: list[str] = []


def run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )


def check(cond: bool, what: str) -> None:
    print(f"smoke: {'ok' if cond else 'FAILED'}: {what}")
    if not cond:
        FAILURES.append(what)


def main() -> None:
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace in (0, 1):
            p = run(w, trace)
            lines = p.stdout.strip().splitlines()
            check(p.returncode == 0 and len(lines) >= 2, f"{w} trace={trace} exits 0 with two lines")
            if len(lines) < 2:
                continue
            record, result = json.loads(lines[-2]), json.loads(lines[-1])
            check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{w} result keys")
            check(
                result["correct"] and result["failed"] == 0,
                f"{w} trace={trace} answers correct (failed ops: {record['failed_ops']})",
            )
            spec = SPEC["per_layer" if trace else "end_to_end"]
            got = {k: m["unit"] for k, m in result["metrics"].items()}
            check(got == {m["name"]: m["unit"] for m in spec}, f"{w} trace={trace} metric names and units")
            check(
                all(isinstance(m["value"], (int, float)) for m in result["metrics"].values()),
                f"{w} trace={trace} metric values are numbers",
            )
            check(
                all({"value", "unit", "n"} <= set(m) for m in record["metrics"].values()),
                f"{w} record metrics carry unit and sample count",
            )
            if trace:
                spans = [json.loads(l) for l in (ROOT / record["spans_file"]).read_text().splitlines()]
                check(bool(spans) and all(SPAN_FIELDS <= set(s) for s in spans), f"{w} span fields")
                ops = {s["op"] for s in spans}
                check(all(s["parent"] is None or s["op"] in ops for s in spans), f"{w} spans share op ids")
                check(record["layers"]["trace_overhead_n"] >= 1, f"{w} tracing overhead has pairs")
                if w == "serve":
                    check(set(record.get("layers_trace_phase", {})) == NRT_LAYERS, "serve NRT layers")
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(HERE, Path(d) / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        p = run("serve", 0, Path(d))
        check(p.returncode != 0 and not p.stdout.strip(), "refuses to run without lucene_spark")
    if FAILURES:
        raise SystemExit(f"smoke: {len(FAILURES)} check(s) failed")


if __name__ == "__main__":
    main()
