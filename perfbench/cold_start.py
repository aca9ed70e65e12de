"""One cold session setup: ``get_spark`` plus the first action, in a
process that has not started a JVM yet.

    python3 perfbench/cold_start.py '<extra_conf as a JSON object>'

Prints ``{"get_spark_s": ..., "first_action_s": ...}`` as its last line,
then stops Spark and the JVM it launched and waits for both. ``run.py``
runs it in fresh processes before starting its own session, so every
``setup_s`` sample pays what a user's new process pays: JVM launch,
driver configuration and first-session initialisation.
"""

from __future__ import annotations

import json
import sys
import time

CORES = 4


def cold_setup(extra_conf: dict[str, str]):
    """Start the program's session and run its first action; returns
    (spark, get_spark seconds, first action seconds)."""
    from german_ocr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=CORES, app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv) -> int:
    spark, get_s, first_s = cold_setup(json.loads(argv[0]))
    try:
        print(json.dumps({"get_spark_s": get_s, "first_action_s": first_s}))
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
