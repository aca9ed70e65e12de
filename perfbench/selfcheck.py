"""Small-size self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

Runs every workload at ``--scale small`` with tracing off and on, and
asserts that each run exits 0, prints the result object last with every
metric BENCHMARK.json names (and only those) under its declared unit,
passes its correctness gate, and stamps the host. Also checks that the
harness refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and the benchmark's own files. Takes about
three minutes on a 4-core host.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

STAMP_KEYS = {"host_cores", "host_ram_gb", "source_sha256", "seed", "spark", "pandas",
              "pyarrow", "driver_memory"}


def _run(cwd: Path, workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "small"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


def check_manifest(spec: dict) -> None:
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def check_run(spec: dict, workload: str, trace: int) -> None:
    rc, lines = _run(ROOT, workload, trace)
    assert rc == 0, f"{workload} trace={trace} exited {rc}"
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, sorted(result)
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        got = result["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], float) and math.isfinite(got["value"]), (m, got)
        if not trace:
            assert got["value"] > 0, (m, got)
    assert STAMP_KEYS <= set(detail["stamp"]), detail["stamp"]
    print(f"ok  {workload} trace={trace}")


def check_refuses_without_program() -> None:
    bare = ROOT / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(bare, "corpus_mixed", 0)
        assert rc != 0 and not any('"metrics"' in ln for ln in lines), (rc, lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  refuses to run without the program")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_manifest(spec)
    check_refuses_without_program()
    for w in WORKLOADS:
        for trace in (0, 1):
            check_run(spec, w, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
