"""Extraction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload corpus_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json for why each
exists):

* ``corpus_mixed``       extract_pipeline over a staged mixed corpus → noop;
                         its traced run also drives pipeline.run with one
                         bucket per commit group, status polls and
                         read_output for the lineage ledger
* ``client_small_batch`` one closed-loop client calling
                         GermanOCRSpark.extract_batch on small batches

``setup_s`` is the median of SETUPS cold setups (``get_spark`` plus the
first action, the program's default driver memory), each in a process
that has not started a JVM: ``cold_start.py`` runs, then this process's
own session.

Load is one driver process on ``local[4]``. Inputs are generated from
``--seed`` with ``synth.synth_docs_distributed`` and staged as parquet
before any timing; the program sees only those files. Every timed
operation is checked against the pure-pandas oracle
(``extract_pandas`` over the same ordered spans) outside its timed
region; a mismatch counts as a failed operation and makes the command
exit 1.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer ledger (spans around public calls, per-kernel pandas times,
Spark's event-log metrics, lineage and client counts) and writes the
spans to ``.perfbench/traces/``. The last stdout line is the result
object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries the host stamp, sample counts and tail percentiles.

``--scale small`` shrinks every input for the harness self-check
(``perfbench/selfcheck.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

from cold_start import CORES, cold_setup, stop_spark

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
# Cold session setups per run, each in a process that has not started a
# JVM: SETUPS - 1 runs of cold_start.py, then the run's own session.
# setup_s is their median.
SETUPS = 2
# Untimed operations before each timed window, so the fresh JVM's JIT
# has compiled the hot paths (call times fall over the first seconds
# after launch).
WARM_UP_S = 15.0


class Bench:
    """Owns the run's work directory, Spark session and op loop."""

    def __init__(self, args):
        self.args = args
        self.seconds = float(args.seconds)
        self.small = args.scale == "small"
        self.dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        (self.dir / "tmp").mkdir(parents=True)
        self.spark = None
        self.setup_samples: list[tuple[float, float]] = []
        self.driver_memory = None
        self.attempted = 0
        self.failed = 0
        self.eventlog_dir = None
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall seconds per harness phase, reported in the detail line."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(
                self.phases.get(name, 0.0) + time.perf_counter() - t0, 2)

    # ------------------------------------------------------------ session
    def _conf(self, eventlog: bool) -> dict[str, str]:
        conf = {
            "spark.local.dir": str(self.dir / "local"),
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dir / 'tmp'} -XX:-UsePerfData",
        }
        if eventlog:
            self.eventlog_dir = self.dir / "eventlog"
            self.eventlog_dir.mkdir(exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.eventlog_dir.as_uri()
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup_sessions(self) -> None:
        """SETUPS cold setups (get_spark + first action): SETUPS - 1 in
        fresh ``cold_start.py`` processes, run one at a time, then this
        process's own, which it keeps. The program's default driver
        memory applies to all of them."""
        conf = self._conf(eventlog=False)
        with self.phase("setup"):
            for _ in range(SETUPS - 1):
                p = subprocess.run(
                    [sys.executable, str(HERE / "cold_start.py"), json.dumps(conf)],
                    stdout=subprocess.PIPE, text=True, timeout=120, check=True)
                r = json.loads(p.stdout.strip().splitlines()[-1])
                self.setup_samples.append((r["get_spark_s"], r["first_action_s"]))
            self.spark, get_s, first_s = cold_setup(conf)
            self.setup_samples.append((get_s, first_s))
        self.driver_memory = self.spark.conf.get("spark.driver.memory")

    def restart_traced(self) -> None:
        """Rebuild the session with Spark's event log on (untimed)."""
        from german_ocr_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark(cores=CORES, app_name="perfbench",
                               extra_conf=self._conf(eventlog=True))

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        stop_spark(self.spark)

    # ------------------------------------------------------------- loops
    def attempt(self, op, *a) -> tuple[float, bool]:
        """One timed call: ``op`` returns (seconds, check) where ``check``
        validates the output outside the timed region. Raising or a
        false check is a failed operation."""
        self.attempted += 1
        try:
            dt, check = op(*a)
            ok = bool(check())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            dt, ok = 0.0, False
        if not ok:
            self.failed += 1
            print(f"perfbench: failed operation {op.__name__}{a!r}", file=sys.stderr)
        return dt, ok

    def loop(self, seconds: float, step, first: int = 0) -> None:
        """Call ``step(i)`` for i = first, first + 1, ... until
        ``seconds`` have passed (at least once)."""
        end = time.perf_counter() + seconds
        i = first
        while i == first or time.perf_counter() < end:
            step(i)
            i += 1

    def warm_up(self, step) -> None:
        """Untimed ``step`` calls for WARM_UP_S (at least one); their
        outputs are still checked."""
        with self.phase("warm_up"):
            self.loop(WARM_UP_S, step, first=-1000)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not (ROOT / "german_ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no german_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    # Set before any JVM starts (inherited by cold_start.py): workers
    # import the package from the checkout and temp files stay inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable

    from ledger import cpu_ticks, stamp
    from workloads import WORKLOADS

    bench = Bench(args)
    os.environ["TMPDIR"] = str(bench.dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(bench.dir / "local")
    steal0, total0 = cpu_ticks()
    try:
        metrics, detail = WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(bench.dir, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    correct = bench.failed == 0 and bench.attempted > 0
    detail = {"workload": args.workload, "trace": args.trace,
              "stamp": {**stamp(ROOT, args.seed), "driver_memory": bench.driver_memory},
              **detail, "phase_s": bench.phases,
              "cpu_steal_frac": round((steal1 - steal0) / max(total1 - total0, 1), 4)}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
