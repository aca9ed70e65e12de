"""The benchmark's workloads and the metrics each reports.

Every workload reports the same end-to-end metrics (``END_TO_END``),
each measured on that workload's own unit of user work:

=====================  ==========================  =====================
workload               docs_per_s                  call_ms_p50 / _tail
=====================  ==========================  =====================
corpus_mixed           extract pass over corpus    one extract pass
client_small_batch     extract_batch               one extract_batch
=====================  ==========================  =====================

and, with ``--trace 1``, every name in ``PER_LAYER``; a layer the
workload does not reach reads 0. The fine-grained committed job
(pipeline.run with one bucket per commit group, status polls,
read_output) runs only in corpus_mixed's traced run and feeds the
``lineage.*`` and ``job.*`` lines: its cold-JVM small-job latencies
spread too widely between runs, and its runs cost too long, to carry a
bounded end-to-end metric on a 4-core host.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

from ledger import EventLog, Tracer, event_log_files, median, peak_rss_mb, tail

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "call_ms_p50": "ms",
    "call_ms_tail": "ms",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "sources.scan_s": "s",
    "operators.extract.ordered_span_rows_s": "s",
    "operators.extract.arrow_roundtrip_s": "s",
    "operators.extract.kernels_s": "s",
    "operators.extract.unattributed_s": "s",
    "kernels.parse.parse_pdf_blocks_s": "s",
    "kernels.xycut.reading_order_s": "s",
    "kernels.xycut.extract_pdf_text_s": "s",
    "kernels.parse.parse_html_nodes_s": "s",
    "kernels.boilerplate.extract_main_content_s": "s",
    "functions.german.normalize_series_s": "s",
    "operators.extract.extract_pandas_s": "s",
    "kernels.spans.text": "count",
    "kernels.spans.ocr": "count",
    "kernels.spans.html": "count",
    "kernels.spans.pdf": "count",
    "kernels.spans.image": "count",
    "kernels.pdf_pages": "count",
    "kernels.pdf_blocks": "count",
    "kernels.html_nodes": "count",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.total_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "stage.task_s_max_over_median": "ratio",
    "stage.tasks": "count",
    "lineage.commit_bucket_group_s": "s",
    "lineage.commit_bucket_group_p50_s": "s",
    "lineage.append_lineage_s": "s",
    "lineage.recorded_bucketing_s": "s",
    "lineage.committed_buckets_s": "s",
    "lineage.read_lineage_s": "s",
    "lineage.committed_files_s": "s",
    "lineage.groups": "count",
    "lineage.spark_jobs_per_group": "count",
    "lineage.files_written": "count",
    "lineage.bytes_written": "bytes",
    "lineage.manifest_rows": "count",
    "job.docs_per_s": "docs/s",
    "job.status_ms_p50": "ms",
    "job.status_ms_tail": "ms",
    "job.read_output_rows_per_s": "rows/s",
    "client.spark_jobs_per_call": "count",
    "client.tasks_per_call": "count",
    "client.python_boot_s_per_call": "s",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "ops_failed_frac": "frac",
}

# (full, small) input sizes. The full corpus_mixed corpus is sized so
# that one extract pass takes ~1.2 s on a 4-core host: a 10 s window
# then holds ~8 passes for its median, where a 20k-doc pass (~6 s)
# would give 1-2. Client batches are 16 docs, the extract_batch call
# size whose latency the sizing probe measured.
SIZES = {
    "mixed_docs": (2000, 300),
    "mixed_files": (8, 4),
    "job_docs": (500, 200),
    "job_buckets": (3, 2),
    "job_polls": (4, 2),
    "client_docs": (256, 32),
    "client_batch": (16, 16),
}

FP_COLS = ("doc_id", "order", "kind", "text", "media_ref", "error", "error_code")


def size(b, key):
    return SIZES[key][1 if b.small else 0]


# ---------------------------------------------------------------- inputs
def stage_corpus(b, name, n_docs, heavy_every, files, drop_kinds=()):
    """Generate the seeded corpus with synth_docs_distributed, write it
    as ``files`` parquet files and pre-touch them (untimed)."""
    from pyspark.sql import functions as F

    from german_ocr_spark import synth

    path = b.dir / f"corpus-{name}"
    with b.phase("stage"):
        df = synth.synth_docs_distributed(
            b.spark, n_docs, seed=b.args.seed, heavy_every=heavy_every,
            n_partitions=files,
        )
        if drop_kinds:
            df = df.withColumn(
                "spans", F.filter("spans", lambda s: ~s["kind"].isin(*drop_kinds))
            )
        df.write.parquet(str(path))
        for p in sorted(path.iterdir()):
            with open(p, "rb") as f:
                while f.read(1 << 20):
                    pass
    return path


def read_docs(path: Path) -> list[tuple]:
    """The staged corpus as (doc_id, [(kind, text, media_ref, offset)])
    tuples, sorted by doc_id."""
    import pyarrow.parquet as pq

    docs = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in (d["spans"] or [])])
        for d in pq.read_table(path).to_pylist()
    ]
    return sorted(docs)


def ordered_rows(docs):
    """Span rows ordered within each doc by (offset, kind, media_ref,
    text) — the order ``ordered_span_rows`` assigns, computed here in
    plain Python."""
    import pandas as pd

    rows = []
    for doc_id, spans in docs:
        for order, (off, kind, ref, text) in enumerate(
            sorted((s[3], s[0], s[2], s[1]) for s in spans)
        ):
            rows.append((doc_id, order, kind, text, ref))
    return pd.DataFrame(rows, columns=["doc_id", "order", "kind", "text", "media_ref"])


def oracle(b, tr: Tracer, rows):
    """``extract_pandas`` over ``rows`` in chunks of the live session's
    Arrow batch size. With tracing on, a second pass follows the first,
    untimed one, with the kernel functions it calls wrapped so each
    kernel's pure-pandas time and work counts land in the ledger."""
    import pandas as pd

    from german_ocr_spark.kernels import boilerplate, parse, xycut
    from german_ocr_spark.operators import extract

    batch = int(b.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def run():
        parts = [extract.extract_pandas(rows.iloc[i:i + batch])
                 for i in range(0, len(rows), batch)]
        return pd.concat(parts, ignore_index=True) if parts else rows.iloc[:0]

    expected = run()
    if not tr.enabled:
        return expected
    tr.wrap(parse, "parse_pdf_blocks", "kernels.parse.parse_pdf_blocks",
            lambda r: {"kernels.pdf_blocks": len(r[0]),
                       "kernels.pdf_pages": len(r[0][["span_idx", "page"]]
                                                .drop_duplicates())})
    tr.wrap(xycut, "reading_order", "kernels.xycut.reading_order")
    tr.wrap(xycut, "extract_pdf_text", "kernels.xycut.extract_pdf_text")
    tr.wrap(parse, "parse_html_nodes", "kernels.parse.parse_html_nodes",
            lambda r: {"kernels.html_nodes": len(r[0])})
    tr.wrap(boilerplate, "extract_main_content",
            "kernels.boilerplate.extract_main_content")
    tr.wrap(extract, "normalize_series", "functions.german.normalize_series")
    tr.wrap(extract, "extract_pandas", "operators.extract.extract_pandas")
    try:
        run()
    finally:
        tr.unwrap_all()
    for k in ("text", "ocr", "html", "pdf", "image"):
        tr.counts[f"kernels.spans.{k}"] = int((rows["kind"] == k).sum())
    return expected


def _fp_aggs():
    """Order-insensitive fingerprint of extracted span rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*FP_COLS)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("s"),
        F.bit_xor(h).alias("x"),
    ]


def _fp(row) -> tuple[int, int, int]:
    return int(row["n"]), int(row["s"] or 0), int(row["x"] or 0)


def oracle_fingerprint(spark, expected) -> tuple[int, int, int]:
    from german_ocr_spark.operators.extract import EXTRACT_DDL

    df = spark.createDataFrame(expected[list(FP_COLS)], schema=EXTRACT_DDL)
    return _fp(df.agg(*_fp_aggs()).first().asDict())


def noop_with_fingerprint(df):
    """Write ``df`` to the noop sink, observing its fingerprint on the
    way; returns (seconds, fingerprint getter)."""
    from pyspark.sql import Observation

    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, *_fp_aggs()).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, lambda: _fp(obs.get)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- reports
def base_layers(b, tr: Tracer) -> dict:
    layers = {k: 0.0 for k in PER_LAYER}
    gets = [g for g, _ in b.setup_samples]
    firsts = [f for _, f in b.setup_samples]
    layers["session.get_spark_s"] = median(gets)
    layers["session.first_action_s"] = median(firsts)
    for name in ("kernels.parse.parse_pdf_blocks", "kernels.xycut.reading_order",
                 "kernels.xycut.extract_pdf_text", "kernels.parse.parse_html_nodes",
                 "kernels.boilerplate.extract_main_content",
                 "functions.german.normalize_series",
                 "operators.extract.extract_pandas"):
        layers[name + "_s"] = tr.self_seconds(name)
    layers.update(tr.counts)
    return layers


def spark_layers(b, tr: Tracer, since: float, untraced: list[float]) -> tuple[dict, EventLog]:
    """Event-log metrics per traced "op" span opened after ``since``
    (medians), process memory and the tracing overhead. Stops the
    session."""
    layers = {"proc.peak_rss_mb": peak_rss_mb(b.jvm_pid())}
    b.spark.stop()
    log = EventLog(event_log_files(b.eventlog_dir))
    per_op = []
    ops = tr.named("op", since)
    for s in ops:
        jobs = log.jobs_between(s["start"], s["end"])
        stages = [st for j in jobs for st in j["stages"]]
        py = log.python_metrics(stages)
        skew, ntasks = log.skew(stages)
        per_op.append({**py, "stage.task_s_max_over_median": skew, "stage.tasks": ntasks,
                       "client.spark_jobs_per_call": len(jobs),
                       "client.tasks_per_call": log.tasks_in(stages),
                       "client.python_boot_s_per_call": py["python.boot_s"]})
    for k in per_op[0] if per_op else ():
        layers[k] = median([p[k] for p in per_op])
    layers["trace.overhead_s"] = median([s["dur"] for s in ops]) - median(untraced)
    return layers, log


def finish(b, tr, metrics, layers, detail):
    layers["ops_failed_frac"] = b.failed / max(b.attempted, 1)
    detail["ops_failed_frac"] = layers["ops_failed_frac"]
    if b.args.trace:
        tr.write(Path(__file__).resolve().parent.parent / ".perfbench" / "traces"
                 / f"{b.args.workload}-seed{b.args.seed}.jsonl")
        out = {k: (float(layers[k]), PER_LAYER[k]) for k in PER_LAYER}
    else:
        out = {k: (float(metrics[k]), END_TO_END[k]) for k in END_TO_END}
    return out, detail


def start_traced(b, tr: Tracer, warm_up) -> float:
    """Rebuild the session with the event log on, run ``warm_up``
    untraced, then turn spans on; returns the traced segment's start."""
    b.restart_traced()
    warm_up()
    tr.enabled = True
    return time.time()


def _per_s(n, seconds) -> float:
    """``n`` over the median of ``seconds``; 0 when no call succeeded
    (the run then fails its correctness gate anyway)."""
    return n / median(seconds) if seconds else 0.0


def _setup_metric(b) -> float:
    return median([g + f for g, f in b.setup_samples])


def _tail_metrics(metrics, detail, key, xs_s):
    ms = [x * 1e3 for x in xs_s]
    metrics[f"{key}_p50"] = median(ms)
    metrics[f"{key}_tail"], q = tail(ms)
    detail[f"{key}_samples"] = len(ms)
    detail[f"{key}_values"] = [round(x, 1) for x in ms]
    detail[f"{key}_tail_pct"] = q


# ------------------------------------------------------------- workloads
def corpus_mixed(b):
    """extract_pipeline over the staged mixed corpus into a noop sink."""
    from german_ocr_spark.operators.extract import extract_pipeline, ordered_span_rows

    tr = Tracer(b.args.trace == 1, f"corpus_mixed-{b.args.seed}")
    b.setup_sessions()
    n_docs = size(b, "mixed_docs")
    path = stage_corpus(b, "mixed", n_docs, heavy_every=100, files=size(b, "mixed_files"))
    with b.phase("oracle"):
        want = oracle_fingerprint(b.spark, oracle(b, tr, ordered_rows(read_docs(path))))

    def extract_pass():
        dt, got = noop_with_fingerprint(extract_pipeline(b.spark.read.parquet(str(path))))
        return dt, lambda: got() == want

    xs = []
    b.warm_up(lambda i: b.attempt(extract_pass))
    traced, tr.enabled = tr.enabled, False
    with b.phase("window"):
        b.loop(b.seconds / 2 if traced else b.seconds,
               lambda i: xs.append(b.attempt(extract_pass)))
    untraced = [dt for dt, ok in xs if ok]
    metrics = {"setup_s": _setup_metric(b), "docs_per_s": _per_s(n_docs, untraced)}
    detail = {"docs": n_docs, "passes": len(untraced)}
    _tail_metrics(metrics, detail, "call_ms", untraced)
    layers = base_layers(b, tr)
    if traced:
        since = start_traced(b, tr, lambda: b.attempt(extract_pass))

        def docs():
            return b.spark.read.parquet(str(path))

        ident_schema = ordered_span_rows(docs()).schema

        def step(i):
            with tr.span("sources.scan"):
                noop(docs())
            with tr.span("operators.extract.ordered_span_rows"):
                noop(ordered_span_rows(docs()))
            with tr.span("operators.extract.arrow_roundtrip"):
                noop(ordered_span_rows(docs()).mapInPandas(lambda it: it, ident_schema))
            with tr.span("operators.extract.kernels"):
                noop(extract_pipeline(docs()))
            with tr.span("op"):
                b.attempt(extract_pass)

        with b.phase("traced"):
            b.loop(b.seconds / 2, step)
        c = {n: median([s["dur"] for s in tr.named(n, since)]) for n in (
            "sources.scan", "operators.extract.ordered_span_rows",
            "operators.extract.arrow_roundtrip", "operators.extract.kernels")}
        layers["sources.scan_s"] = c["sources.scan"]
        layers["operators.extract.ordered_span_rows_s"] = (
            c["operators.extract.ordered_span_rows"] - c["sources.scan"])
        layers["operators.extract.arrow_roundtrip_s"] = (
            c["operators.extract.arrow_roundtrip"] - c["operators.extract.ordered_span_rows"])
        layers["operators.extract.kernels_s"] = (
            c["operators.extract.kernels"] - c["operators.extract.arrow_roundtrip"])
        layers["operators.extract.unattributed_s"] = (
            median(untraced) - c["operators.extract.kernels"])
        job, commits = job_ledger(b, tr)
        layers.update(job)
        more, log = spark_layers(b, tr, since, untraced)
        layers.update(more)
        layers["lineage.spark_jobs_per_group"] = median(
            [len(log.jobs_between(s["start"], s["end"])) for s in commits])
    return finish(b, tr, metrics, layers, detail)


def job_ledger(b, tr: Tracer) -> tuple[dict, list[dict]]:
    """Lineage and job-API ledger, run inside corpus_mixed's traced
    session: pipeline.run with one bucket per commit group over a staged
    corpus whose html and pdf spans are dropped (so kernels are cheap),
    then sequential status polls and a read_output scan, repeated on
    fresh output directories, with the ``plans.lineage`` functions
    wrapped. Every call is checked against the oracle like a timed op.
    Returns the per-layer metrics and the commit spans, whose Spark jobs
    are counted once the event log is read."""
    from german_ocr_spark import pipeline
    from german_ocr_spark.plans import lineage

    n_docs, n_buckets = size(b, "job_docs"), size(b, "job_buckets")
    tr.enabled = False
    path = stage_corpus(b, "job", n_docs, heavy_every=100, files=4,
                        drop_kinds=("html", "pdf"))
    with b.phase("oracle"):
        docs = read_docs(path)
        expected = oracle(b, tr, ordered_rows(docs))
        want = oracle_fingerprint(b.spark, expected)
    want_counts = (sum(1 for _, s in docs if s), len(expected),
                   int(expected["error"].notna().sum()))
    runs, polls, reads, stats = [], [], [], []

    def run_job(out):
        t0 = time.perf_counter()
        r = pipeline.run(b.spark, b.spark.read.parquet(str(path)), str(out),
                         n_buckets=n_buckets, bucket_group_size=1)
        dt = time.perf_counter() - t0
        return dt, lambda: (r.buckets_total, r.buckets_processed, r.buckets_skipped,
                            r.doc_count, r.span_count, r.error_count) == (
            n_buckets, n_buckets, 0, *want_counts)

    def poll(out):
        t0 = time.perf_counter()
        st = pipeline.status(b.spark, str(out))
        dt = time.perf_counter() - t0
        return dt, lambda: (st.status, st.buckets_done, st.doc_count, st.span_count,
                            st.error_count) == ("completed", n_buckets, *want_counts)

    def read(out):
        dt, got = noop_with_fingerprint(pipeline.read_output(b.spark, str(out)))
        return dt, lambda: got() == want

    def cycle(i):
        out = b.dir / "jobs" / f"run{i + 1000}"
        with tr.span("job.run"):
            dt, ok = b.attempt(run_job, out)
        if ok:
            runs.append(dt)
        for _ in range(size(b, "job_polls")):
            dt, ok = b.attempt(poll, out)
            if ok:
                polls.append(dt)
        dt, ok = b.attempt(read, out)
        if ok:
            reads.append(dt)
        stats.append(_table_stats(out))
        shutil.rmtree(out, ignore_errors=True)

    cycle(-1)  # warm-up, untraced
    for xs in (runs, polls, reads, stats):
        xs.clear()
    tr.enabled = True
    since = time.time()
    for fn in ("commit_bucket_group", "append_lineage", "recorded_bucketing",
               "committed_buckets", "read_lineage", "committed_files"):
        tr.wrap(lineage, fn, f"lineage.{fn}")
    try:
        with b.phase("job_ledger"):
            b.loop(b.seconds / 2, cycle)
    finally:
        tr.unwrap_all()
    n = len(tr.named("job.run", since))
    layers = {}
    for fn in ("append_lineage", "recorded_bucketing", "committed_buckets",
               "read_lineage", "committed_files"):
        layers[f"lineage.{fn}_s"] = sum(s["dur"] for s in tr.named(f"lineage.{fn}", since)) / n
    commits = tr.named("lineage.commit_bucket_group", since)
    layers["lineage.commit_bucket_group_s"] = sum(s["dur"] for s in commits) / n
    layers["lineage.commit_bucket_group_p50_s"] = median([s["dur"] for s in commits])
    layers["lineage.groups"] = len(commits) / n
    for k in ("files_written", "bytes_written", "manifest_rows"):
        layers[f"lineage.{k}"] = median([s[k] for s in stats])
    layers["job.docs_per_s"] = _per_s(n_docs, runs)
    job_ms = [p * 1e3 for p in polls]
    layers["job.status_ms_p50"] = median(job_ms)
    layers["job.status_ms_tail"] = tail(job_ms)[0]
    layers["job.read_output_rows_per_s"] = _per_s(len(expected), reads)
    return layers, commits


def _table_stats(out: Path) -> dict:
    """Files and bytes a job left under ``out`` and its manifest rows."""
    import pyarrow.parquet as pq

    files, nbytes = 0, 0
    for d, _, names in os.walk(out):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    rows = pq.read_table(out / "_lineage").num_rows
    return {"files_written": files, "bytes_written": nbytes, "manifest_rows": rows}


def client_small_batch(b):
    """One closed-loop client: GermanOCRSpark.extract_batch on small
    mixed batches (no heavy docs), cycling through the staged corpus."""
    from german_ocr_spark.client import GermanOCRSpark

    tr = Tracer(b.args.trace == 1, f"client_small_batch-{b.args.seed}")
    b.setup_sessions()
    n_docs, bs = size(b, "client_docs"), size(b, "client_batch")
    path = stage_corpus(b, "client", n_docs, heavy_every=0, files=2)
    with b.phase("oracle"):
        docs = read_docs(path)
        expected = oracle(b, tr, ordered_rows(docs))
    want = {}
    for doc_id, g in expected.groupby("doc_id", sort=False):
        g = g.sort_values("order")
        errs = sorted(e for e in g["error"] if e is not None)
        want[doc_id] = ("\n".join(g["text"]), not errs, errs)
    batches = [docs[i:i + bs] for i in range(0, len(docs), bs)]
    client = GermanOCRSpark(b.spark, str(b.dir / "client"))

    def call(batch):
        t0 = time.perf_counter()
        res = client.extract_batch(batch)
        dt = time.perf_counter() - t0
        return dt, lambda: [(r.doc_id, r.text, r.success, sorted(r.errors)) for r in res] == [
            (d, *want.get(d, ("", True, []))) for d, _ in batch]

    calls = []

    def step(i):
        with tr.span("op"):
            dt, ok = b.attempt(call, batches[i % len(batches)])
        if ok:
            calls.append(dt)

    b.warm_up(step)
    calls.clear()
    traced, tr.enabled = tr.enabled, False
    with b.phase("window"):
        b.loop(b.seconds / 2 if traced else b.seconds, step)
    untraced = list(calls)
    metrics = {"setup_s": _setup_metric(b), "docs_per_s": _per_s(bs, untraced)}
    detail = {"batch_docs": bs}
    _tail_metrics(metrics, detail, "call_ms", untraced)
    layers = base_layers(b, tr)
    if traced:
        def rebuild():
            nonlocal client
            client = GermanOCRSpark(b.spark, str(b.dir / "client"))
            step(0)

        since = start_traced(b, tr, rebuild)
        with b.phase("traced"):
            b.loop(b.seconds / 2, step)
        more, _ = spark_layers(b, tr, since, untraced)
        layers.update(more)
    return finish(b, tr, metrics, layers, detail)


WORKLOADS = {
    "corpus_mixed": corpus_mixed,
    "client_small_batch": client_small_batch,
}
