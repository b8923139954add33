#!/usr/bin/env python3
"""Extraction benchmark of docling_core_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

It builds the workload's seeded input table (once per seed, under
``.perfbench_work/``), starts Spark at ``local[<cpus>]`` in this one
process, runs the workload's job in a closed loop for ``--seconds`` (one job
at a time; the next starts when the previous returns), checks the outputs
outside the timed window and prints every metric with its unit.  The last
line of stdout is one JSON object.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` is a separate run that reports the per-layer metrics.
Exit status: 0 on a correct run, 1 when the correctness gate fails, 2 when
the program is not in the checkout.  See ``perfbench/README.md``.
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
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gate
import inputgen
from tracing import Tracer, WorkerRssSampler, descendants, eventlog_metrics, host_stamp

SETUPS = 3
WARMUP_ROWS = 16
PREFIX_ROUNDS = 2
WARM_JOBS = 2

FULL = {"emit_doc_json": True, "emit_html": True, "emit_doctags": True, "emit_doclang": True}
PIPELINE = {"emit_doc_json": True}  # the flags run_pipeline's stage passes
STRING_COLUMNS = ("doc_json", "markdown", "plain_text", "html_out", "doctags", "doclang")


@dataclass(frozen=True)
class Workload:
    table: str
    flags: dict
    writes: bool  # run_pipeline into a fresh dir, else extract_pages to a noop sink


WORKLOADS = {
    "crawl_full": Workload("crawl", FULL, False),
    "pipeline_write": Workload("jumbo", PIPELINE, True),
}

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "B/B",
}
ROW_PHASES = (
    "html_parse.parse_html",
    "serializers.export_to_markdown",
    "serializers.export_to_text",
    "html_out.export_to_html",
    "doctags.export_to_doctags",
    "doclang_out.export_to_doclang",
    "doc.to_json",
    "chunkers.hybrid_chunk",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.scan_s": "s",
    "split_skew.exchange_s": "s",
    "split_skew.jumbo_rows": "count",
    "split_skew.partition_work_skew": "ratio",
    "extract.arrow_identity_s": "s",
    "extract.stage_s": "s",
    "extract.row_s": "s",
    "extract.outside_row_share": "ratio",
    **{f"{name}.total_s": "s" for name in ROW_PHASES},
    "html_parse.parse_html.p50_us": "us",
    "html_parse.parse_html.p99_us": "us",
    "html_parse.parse_html.max_us": "us",
    "chunkers.hybrid_chunk.max_us": "us",
    "checkpoint.run_checkpointed_s": "s",
    "pipeline.after_checkpoint_s": "s",
    "pipeline.spark_jobs": "count",
    "spark.jobs": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.task_s_sum": "s",
    "spark.task_stall_ratio": "ratio",
    "trace.docs_per_s": "docs/s",
    "trace.overhead_share": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_program(root: Path) -> Path | None:
    """The checkout's docling_core_spark package dir, or None if it has none."""
    sys.path.insert(0, str(root))
    try:
        import docling_core_spark
    except ImportError:
        return None
    pkg = Path(docling_core_spark.__file__).resolve().parent
    return pkg if pkg.is_relative_to(root.resolve()) else None


def spark_env(work: Path, eventlog: Path | None) -> None:
    """Keep Spark's scratch files inside ``work`` and, when tracing, turn on
    the event log through launch-time ``--conf`` (before the JVM starts)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # get_spark's 8g default is sized for sf1; 2g holds the collected gate
    # output and keeps the JVM small on a shared host
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    conf = ["spark.ui.showConsoleProgress=false"]
    if eventlog is not None:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={eventlog.as_uri()}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def set_up(pages_path: str, cpus: int, tracer: Tracer):
    """SETUPS set-ups; returns (spark, seconds of each, seconds of the first
    ``get_spark``).

    The first is cold: program import, JVM launch, ``get_spark`` and one
    warm-up pass that forks the Python workers and imports the package in
    them.  Each later one stops the session and repeats ``get_spark`` and
    the warm-up in the same JVM."""
    spark, times, get_spark_s = None, [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        with tracer.span("setup"):
            if spark is not None:
                spark.stop()
            from docling_core_spark.operators.extract import extract_pages, split_skew
            from docling_core_spark.session import get_spark

            t1 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(app_name="perfbench", cpus=cpus)
            get_spark_s.append(time.perf_counter() - t1)
            spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("setup.warmup"):
                sample = spark.read.parquet(pages_path).limit(WARMUP_ROWS).repartition(cpus)
                noop(extract_pages(sample, **FULL))
        times.append(time.perf_counter() - t0)
    return spark, times, get_spark_s[0]


def shut_down(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    stop_descendants()


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that a process whose parent ends first (a
    Python worker of a stopped JVM, say) stays a descendant that
    ``stop_descendants`` can wait for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 30.0) -> None:
    """End every process this one started and wait until each has ended.

    Stops multiprocessing's resource tracker (the gate's spawn-context pool
    starts it, and it would otherwise exit only after this process), waits
    ``grace_s`` for the rest to exit on their own, then kills what is left."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    killed, deadline = False, time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants()
        if not left:
            return
        if time.monotonic() >= deadline:
            if killed:
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def closed_loop(job, seconds: float, tracer: Tracer) -> list[float]:
    """Run ``job(i)`` back to back until ``seconds`` have passed (at least once)."""
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        with tracer.span("job"):
            job(len(walls))
        walls.append(time.perf_counter() - t0)
    return walls


def output_string_bytes(out: pa.Table) -> int:
    """UTF-8 bytes of the extracted text columns and chunk texts."""
    total = sum(pc.sum(pc.binary_length(out[c])).as_py() or 0 for c in STRING_COLUMNS)
    chunk_text = pc.struct_field(pc.list_flatten(out["chunks"]), "text")
    return total + (pc.sum(pc.binary_length(chunk_text)).as_py() or 0)


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def row_phases(inputs: pa.Table, flags: dict, tracer: Tracer) -> dict[str, float]:
    """Time each per-row phase in-process, without Spark, over every page:
    the calls ``extract_row`` makes for ``flags``, one span per phase and page.
    Phases the flags leave out report 0."""
    from docling_core_spark.functions.chunkers import HybridChunker, RegexTokenizer, contextualize
    from docling_core_spark.functions.doclang_out import export_to_doclang
    from docling_core_spark.functions.doctags import export_to_doctags
    from docling_core_spark.functions.html_out import export_to_html
    from docling_core_spark.functions.html_parse import parse_html
    from docling_core_spark.functions.serializers import export_to_markdown, export_to_text

    def chunk(doc):
        tok = RegexTokenizer(512)
        return [tok.count_tokens(contextualize(c)) for c in HybridChunker(tokenizer=tok).chunk(doc)]

    us: dict[str, list[float]] = {name: [] for name in ROW_PHASES}

    def phase(phase_name, url, fn, *a, **k):
        with tracer.span(phase_name, url=url) as rec:
            value = fn(*a, **k)
        us[phase_name].append((rec["end_ns"] - rec["start_ns"]) / 1e3)
        return value

    for row in inputs.select(["url", "html"]).to_pylist():
        url = row["url"]
        with tracer.span("row", url=url):
            doc = phase("html_parse.parse_html", url, parse_html, row["html"] or b"", name=url)
            phase("serializers.export_to_markdown", url, export_to_markdown, doc)
            phase("serializers.export_to_text", url, export_to_text, doc)
            if flags.get("emit_html"):
                phase("html_out.export_to_html", url, export_to_html, doc)
            if flags.get("emit_doctags"):
                phase("doctags.export_to_doctags", url, export_to_doctags, doc)
            if flags.get("emit_doclang"):
                phase("doclang_out.export_to_doclang", url, export_to_doclang, doc, pretty_indentation=None)
            if flags.get("emit_doc_json", True):
                phase("doc.to_json", url, doc.to_json)
            phase("chunkers.hybrid_chunk", url, chunk, doc)

    metrics = {f"{name}.total_s": sum(v) / 1e6 for name, v in us.items()}
    parse = us["html_parse.parse_html"]
    metrics["html_parse.parse_html.p50_us"] = statistics.median(parse)
    metrics["html_parse.parse_html.p99_us"] = statistics.quantiles(parse, n=100)[98]
    metrics["html_parse.parse_html.max_us"] = max(parse)
    metrics["chunkers.hybrid_chunk.max_us"] = max(us["chunkers.hybrid_chunk"])
    return metrics


def _identity(batches):
    yield from batches


def prefixes(spark, pages_path: str, flags: dict, tracer: Tracer, cpus: int) -> dict[str, float]:
    """Noop-sink prefixes of the extract plan, interleaved PREFIX_ROUNDS
    times (min per prefix): scan, +split_skew, +identity mapInArrow, and
    +extract_pages (collected through lineage_metrics, which also yields the
    summed per-row ``parse_us`` and its per-partition spread)."""
    from docling_core_spark.operators.extract import extract_pages, lineage_metrics, split_skew

    cols = ["url", "html", "lang"]

    def read():
        return spark.read.parquet(pages_path)

    def identity():
        df = split_skew(read()).select(*cols)
        noop(df.mapInArrow(_identity, df.schema))

    steps = {
        "scan": lambda: noop(read().select(*cols)),
        "split_skew": lambda: noop(split_skew(read()).select(*cols)),
        "identity_arrow": identity,
        "extract": lambda: lineage_metrics(extract_pages(split_skew(read()), **flags)).collect(),
    }
    best: dict[str, float] = {}
    lineage = None
    for _ in range(PREFIX_ROUNDS):
        for name, fn in steps.items():
            t0 = time.perf_counter()
            with tracer.span(f"prefix.{name}"):
                res = fn()
            best[name] = min(best.get(name, float("inf")), time.perf_counter() - t0)
            lineage = res if name == "extract" else lineage
    work = [r["parse_us"] for r in lineage if r["n_pages"]]
    row_s = sum(work) / 1e6
    stage_s = best["extract"] - best["identity_arrow"]
    return {
        "sources.scan_s": best["scan"],
        "split_skew.exchange_s": best["split_skew"] - best["scan"],
        "split_skew.partition_work_skew": max(work) / statistics.median(work),
        "extract.arrow_identity_s": best["identity_arrow"] - best["split_skew"],
        "extract.stage_s": stage_s,
        "extract.row_s": row_s,
        "extract.outside_row_share": 1 - row_s / (stage_s * cpus),
    }


def untraced_docs_per_s(results: Path, stamp: dict) -> float | None:
    """Median docs_per_s of the correct untraced runs recorded in this
    checkout with the same program and benchmark sources."""
    if not results.is_file():
        return None
    same = ("source_sha256", "bench_sha256", "nproc")
    runs = [json.loads(line) for line in results.read_text().splitlines() if line.strip()]
    vals = [
        r["metrics"]["docs_per_s"]["value"]
        for r in runs
        if not r["trace"] and r["correct"] and all(r["stamp"].get(k) == stamp[k] for k in same)
    ]
    return statistics.median(vals) if vals else None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    work = root / ".perfbench_work"
    load_start = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    pkg = import_program(root)
    if pkg is None:
        print("perfbench: no docling_core_spark package in this checkout", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}-{time.time_ns()}"
    eventlog = work / "eventlog" / run_id if args.trace else None
    if eventlog is not None:
        eventlog.mkdir(parents=True)
    spark_env(work, eventlog)

    pages_path = str(inputgen.ensure_tables(work / "inputs", args.seed)[wl.table])
    inputs = pq.read_table(pages_path, columns=["url", "html", "lang"])
    n_pages = inputs.num_rows
    in_bytes = pc.sum(pc.binary_length(inputs["html"])).as_py()

    tracer = Tracer(bool(args.trace))
    spark, setups, get_spark_s = set_up(pages_path, cpus, tracer)
    try:
        from docling_core_spark.operators.extract import extract_pages, split_skew
        import docling_core_spark.plans.pipeline as plan

        sc = spark.sparkContext
        layer: dict[str, float] = {}
        if args.trace:
            layer.update(prefixes(spark, pages_path, wl.flags, tracer, cpus))
            checkpointed = plan.run_checkpointed

            def traced_run_checkpointed(*a, **k):
                with tracer.span("checkpoint.run_checkpointed"):
                    return checkpointed(*a, **k)

            plan.run_checkpointed = traced_run_checkpointed

        outs: list[Path] = []
        summaries: list[dict] = []

        def job(i: int) -> None:
            sc.setJobGroup(f"main-{i}", f"perfbench {args.workload} job {i}")
            pages = spark.read.parquet(pages_path)
            if wl.writes:
                outs.append(work / "out" / f"{run_id}-{i}")
                summaries.append(plan.run_pipeline(spark, pages, str(outs[-1])))
            else:
                noop(extract_pages(split_skew(pages), **wl.flags))

        if not wl.writes:
            # Untimed full-size jobs first: job walls settle only after a few
            # of them (JIT, worker caches).  The first collects the output
            # the gate checks.  A run_pipeline job is 16 bucket jobs long
            # and warms inside itself.
            with tracer.span("warm_jobs"):
                sc.setJobGroup("gate", "perfbench correctness gate")
                out = extract_pages(split_skew(spark.read.parquet(pages_path)), **wl.flags).toArrow()
                for i in range(1, WARM_JOBS):
                    job(-i)
        sampler = WorkerRssSampler().start()
        try:
            walls = closed_loop(job, args.seconds, tracer)
        finally:
            peak_rss_mb = sampler.stop()
        main_jobs = set(sc.statusTracker().getJobIdsForGroup("main-0"))
        app_id = sc.applicationId

    finally:
        shut_down(spark)

    if wl.writes:
        out = ds.dataset(outs[-1] / "docs" / "data", format="parquet", partitioning="hive").to_table()
        out_bytes = parquet_bytes(outs[-1])
        for path in outs:
            shutil.rmtree(path)
    else:
        out_bytes = output_string_bytes(out)
    result = gate.check_output(out, inputs, wl.flags, args.seed, cpus)
    if wl.writes:
        gate.check_pipeline(result, summaries[-1], n_pages, pc.sum(pc.list_value_length(out["chunks"])).as_py())

    docs_per_s = statistics.median(n_pages / w for w in walls)
    stamp = host_stamp(root, pkg, args.seed, cpus, load_start)
    if args.trace:
        layer.update(row_phases(inputs, wl.flags, tracer))
        layer.update(eventlog_metrics(eventlog / app_id, main_jobs))
        ckpt = tracer.seconds("checkpoint.run_checkpointed")
        layer["checkpoint.run_checkpointed_s"] = statistics.median(ckpt) if ckpt else 0.0
        layer["pipeline.after_checkpoint_s"] = statistics.median(w - c for w, c in zip(walls, ckpt)) if ckpt else 0.0
        layer["spark.jobs"] = len(main_jobs)
        layer["pipeline.spark_jobs"] = len(main_jobs) if wl.writes else 0
        layer["session.get_spark_s"] = get_spark_s
        layer["split_skew.jumbo_rows"] = pc.sum(pc.greater(pc.binary_length(inputs["html"]), inputgen.JUMBO_BYTES)).as_py() or 0
        layer["trace.docs_per_s"] = docs_per_s
        base = untraced_docs_per_s(work / "results" / f"{args.workload}.jsonl", stamp)
        layer["trace.overhead_share"] = 1 - docs_per_s / base if base else 0.0
        tracer.dump(work / "traces" / f"{run_id}.json")
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER.items()}
    else:
        values = {
            "docs_per_s": docs_per_s,
            "setup_s": statistics.median(setups),
            "worker_peak_rss_mb": peak_rss_mb,
            "out_bytes_per_in_byte": out_bytes / in_bytes,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}

    record = {
        "workload": args.workload,
        "trace": args.trace,
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }
    (work / "results").mkdir(parents=True, exist_ok=True)
    with open(work / "results" / f"{args.workload}.jsonl", "a") as fh:
        fh.write(json.dumps({**record, "stamp": stamp, "walls_s": walls, "setups_s": setups}) + "\n")

    print(f"perfbench {args.workload}: {n_pages} pages, {in_bytes} html bytes, local[{cpus}]")
    print(f"  jobs timed: {len(walls)} (wall s: {', '.join(f'{w:.3f}' for w in walls)})")
    print(f"  set-ups: {', '.join(f'{s:.3f}' for s in setups)} s")
    print(f"  error_rate: {result.failed / result.attempted:.6f} ({result.failed}/{result.attempted})")
    for problem in result.problems[:20]:
        print(f"  GATE: {problem}")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>16.6f} {m['unit']}")
    print(f"  stamp: {json.dumps(stamp)}")
    del record["workload"], record["trace"]
    print(json.dumps(record))
    return 0 if result.correct else 1


if __name__ == "__main__":
    become_subreaper()
    try:
        code = main()
    finally:
        stop_descendants()
    sys.exit(code)
