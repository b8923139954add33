"""Partition-level checkpointed, resumable extraction runs.

North-rule requirement: "resumable from checkpoint with per-partition
lineage".  Protocol (Iceberg-style idempotent partition writes, expressed
over plain parquet so it runs anywhere):

- input is bucketed by ``pmod(xxhash64(url), n_buckets)``;
- every uncommitted ``out_dir/data/bucket=<b>/`` directory is deleted once,
  before the first wave: it can only be a dead earlier attempt;
- buckets are processed in waves; each wave is ONE dynamic-partition-overwrite
  write into ``out_dir/data/bucket=<b>/`` (the bucket is recomputed from the
  key column the stage passes through).  The output crosses one rebalance
  exchange on the bucket first, so each bucket lands as one file at this
  scale (about bucket bytes / advisory partition size files at cluster
  scale) instead of one small file per extract task;
- then one read-back aggregate over the wave's own bucket dirs counts rows
  and errors per bucket, and one record per bucket of the wave is written
  durably to the ``out_dir/_progress/`` log (commit point: data before
  progress); an unreadable record, torn by a machine crash, counts as
  uncommitted, so its bucket re-runs;
- two waves are in flight at once (double buffering): the next wave's tasks
  fill the cores the current wave's stragglers and driver-side steps leave
  idle.  Spark's FIFO scheduler still gives the earlier wave priority;
- resume = anti-join the bucket list against the progress log: only
  unfinished buckets are re-run.  A crash re-runs every uncommitted bucket,
  which is at most two waves of work;
- per-bucket lineage (rows, errors, wave wall) is recorded in the progress
  log itself; an empty bucket commits with ``rows=0`` so a resume skips it.

At cluster scale the same protocol maps onto Iceberg
``REPLACE PARTITIONS`` / dynamic-partition-overwrite commits.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Callable, Optional

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructType


def _progress_path(out_dir: str) -> Path:
    return Path(out_dir) / "_progress"


def completed_buckets(
    spark: SparkSession, out_dir: str, n_buckets: Optional[int] = None
) -> set[int]:
    """Buckets recorded as committed in the progress log.

    When n_buckets is given, raise on a mismatch with the recorded runs: a
    different bucket count changes the pmod assignment, so resuming against
    old committed bucket dirs would silently double-process or miss rows.
    """
    p = _progress_path(out_dir)
    if not p.is_dir() or not any(p.glob("*.json")):
        return set()
    done = set()
    for f in sorted(p.glob("*.json")):
        try:
            rec = json.loads(f.read_text())
        except (ValueError, OSError):
            continue  # a torn record: its bucket is uncommitted and re-runs
        recorded = rec.get("n_buckets")
        if n_buckets is not None and recorded is not None and recorded != n_buckets:
            raise ValueError(
                f"checkpoint at {out_dir} was written with n_buckets={recorded}; "
                f"resuming with n_buckets={n_buckets} would corrupt bucket "
                "assignment — use the original value or a fresh out_dir"
            )
        done.add(rec["bucket"])
    return done


def _write_record(p: Path, name: str, rec: dict) -> None:
    """Atomically AND durably write the JSON record ``p/name``: write +
    fsync a temp file, rename, fsync the directory.  Without the fsyncs a
    machine crash can leave a durable rename pointing at zero-length data."""
    p.mkdir(parents=True, exist_ok=True)
    tmp = p / f".{name}.tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps(rec))
        fh.flush()
        os.fsync(fh.fileno())
    tmp.rename(p / name)
    try:
        dfd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # non-posix dir fsync: rename atomicity still holds


def _commit_bucket(out_dir: str, bucket: int, lineage: dict) -> None:
    _write_record(_progress_path(out_dir), f"bucket_{bucket}.json", {"bucket": bucket, **lineage})


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    stage_fn: Callable[[DataFrame], DataFrame],
    n_buckets: int = 16,
    buckets_per_wave: int = 4,
    key: str = "url",
) -> dict:
    """Run stage_fn over pages in resumable bucket waves.

    Returns a summary dict {completed, skipped, waves, rows_out, n_buckets}.
    Each wave is one dynamic-partition-overwrite write of all its buckets,
    rebalanced on the bucket so each bucket is one file at this scale; two
    waves run at once, each in its own thread whose jobs carry the caller's
    job group and tags plus a ``checkpoint wave i/n buckets [...]``
    description.  If a wave raises, no further wave starts, the other
    in-flight wave finishes and the first error is re-raised.  A killed
    job resumes by re-running every uncommitted bucket (at most two waves
    of work).  stage_fn must pass the ``key`` column through (the output
    bucket is recomputed from it).  A progress record's ``wall_sec`` is the
    wall of its wave.
    """
    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    bucketed = pages.withColumn("_bucket", bucket)
    done = completed_buckets(spark, out_dir, n_buckets=n_buckets)
    todo = [b for b in range(n_buckets) if b not in done]
    data = Path(out_dir) / "data"
    for b in todo:  # uncommitted, so an existing dir is a dead earlier attempt
        shutil.rmtree(data / f"bucket={b}", ignore_errors=True)
    waves = [todo[i : i + buckets_per_wave] for i in range(0, len(todo), buckets_per_wave)]
    errors: list[BaseException] = []
    # one wave commits at a time: every commit called before a crash has
    # landed, so a crash leaves a prefix of the commit calls durable
    commit_lock = threading.Lock()

    def run_wave(n: int, wave: list[int]) -> int:
        if errors:
            return 0
        try:
            spark.sparkContext.setJobDescription(f"checkpoint wave {n}/{len(waves)} buckets {wave}")
            t0 = time.perf_counter()
            out = stage_fn(bucketed.filter(F.col("_bucket").isin(wave)).drop("_bucket"))
            if key not in out.columns:
                raise ValueError(f"stage_fn output lacks the key column {key!r}: {out.columns}")
            out = out.withColumn("bucket", bucket).hint("rebalance", "bucket")
            out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
                "bucket"
            ).parquet(str(data))
            # only this wave's dirs: the other in-flight wave may be moving its
            # own into data/; an empty bucket writes no dir and commits rows=0
            dirs = [str(data / f"bucket={b}") for b in wave if (data / f"bucket={b}").is_dir()]
            stats = {b: (0, 0) for b in wave}
            if dirs:
                written = spark.read.schema(out.schema).option("basePath", str(data)).parquet(*dirs)
                errs = F.count("error") if "error" in out.columns else F.lit(0)
                for r in written.groupBy("bucket").agg(F.count("*"), errs).collect():
                    stats[r[0]] = (r[1], r[2])
            wall = round(time.perf_counter() - t0, 3)
            with commit_lock:
                for b in wave:
                    n_rows, n_errors = stats[b]
                    _commit_bucket(
                        out_dir,
                        b,
                        {"n_buckets": n_buckets, "rows": n_rows, "errors": n_errors, "wall_sec": wall},
                    )
            return sum(n_rows for n_rows, _ in stats.values())
        except BaseException as e:
            errors.append(e)
            raise

    # each wave wraps its own copy of the caller's local properties, so one
    # wave's job description never leaks into the other's jobs
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(run_wave), n, wave)
            for n, wave in enumerate(waves, 1)
        ]
    if errors:
        raise errors[0]
    return {
        "completed": len(todo),
        "skipped": len(done),
        "waves": len(waves),
        "rows_out": sum(f.result() for f in futures),
        "n_buckets": n_buckets,
    }


def read_output(
    spark: SparkSession, out_dir: str, schema: Optional[StructType] = None
) -> DataFrame:
    """Read back the committed output across all buckets.

    ``schema`` is stage_fn's output schema (the ``bucket`` partition column
    is appended).  Given it, ``data/`` is read without footer inference, and
    a run whose buckets all came out empty (the waves' writes leave ``data/``
    with no bucket dir) reads as zero rows.
    """
    reader = spark.read
    if schema is not None:
        fields = [f for f in schema.fields if f.name != "bucket"]
        reader = reader.schema(StructType(fields).add("bucket", IntegerType()))
    return reader.parquet(f"{out_dir}/data")


# ---------------------------------------------------------------------------
# round-level checkpointing for ITERATIVE operators (bpe_train /
# duplicate_clusters / k-means): the bucket protocol above shards one pass
# over the data; these operators instead iterate a driver loop whose only
# durable state per round is small (a merge list, a labels table, a handful
# of centroids).  Protocol mirrors the bucket log: state parquet (if any)
# BEFORE the round's commit record, atomic rename commit, resume = continue
# after the highest committed round.  A crash between state write and
# commit re-runs that round — idempotent because each round's state path is
# overwritten whole.
# ---------------------------------------------------------------------------


def _rounds_path(out_dir: str) -> Path:
    return Path(out_dir) / "_rounds"


def round_state_path(out_dir: str, round_no: int, name: str) -> str:
    """Deterministic per-round state directory (parquet) for DataFrames."""
    return str(Path(out_dir) / "state" / f"round_{round_no:06d}_{name}")


def committed_rounds(out_dir: str, params: Optional[dict] = None) -> list[dict]:
    """All committed round records in round order.

    Crash tolerance: a TRAILING truncated/corrupt record (power loss can
    make the rename durable before the data blocks) is dropped — the
    previous committed round is the safe resume point; a corrupt record in
    the MIDDLE of the log means real damage and raises.

    ``params``: the caller's operator parameters.  Every record that
    carries a "params" field must match exactly — resuming a checkpoint
    dir written by a different operator or with different knobs would
    otherwise silently continue from incompatible state (the same guard
    the bucket protocol applies to n_buckets).
    """
    p = _rounds_path(out_dir)
    if not p.is_dir():
        return []
    files = sorted(p.glob("round_*.json"))
    recs: list[Optional[dict]] = []
    for f in files:
        try:
            recs.append(json.loads(f.read_text()))
        except (json.JSONDecodeError, OSError):
            recs.append(None)
    while recs and recs[-1] is None:
        recs.pop()
    if any(r is None for r in recs):
        raise ValueError(
            f"corrupt round record mid-log under {p} — the checkpoint dir "
            "is damaged beyond the trailing-crash case; inspect or delete it"
        )
    if params is not None:
        for r in recs:
            got = r.get("params")
            if got is not None and got != params:
                raise ValueError(
                    f"checkpoint dir {out_dir} was written with params {got}; "
                    f"resume requested {params} — refusing to mix state"
                )
    return recs  # type: ignore[return-value]


def last_committed_round(
    out_dir: str, params: Optional[dict] = None
) -> Optional[dict]:
    """The record of the highest committed round, or None for a fresh run.

    Rounds commit sequentially with zero-padded names, so lexicographic
    order is numeric order and the last (readable) file is the resume
    point.  See committed_rounds for the crash-tolerance and params
    contract."""
    recs = committed_rounds(out_dir, params=params)
    return recs[-1] if recs else None


def commit_round(
    out_dir: str, round_no: int, meta: dict, params: Optional[dict] = None
) -> None:
    """Atomically AND durably record round ``round_no`` as complete (see
    _write_record; a machine crash is the multi-hour-job failure mode this
    protocol exists for).  ``params`` (JSON-scalar dict) is stored for the
    resume-compatibility check in committed_rounds."""
    rec = {"round": round_no, **meta}
    if params is not None:
        rec["params"] = params
    _write_record(_rounds_path(out_dir), f"round_{round_no:06d}.json", rec)


def prune_round_state(out_dir: str, before_round: int) -> None:
    """Best-effort removal of state directories for rounds < before_round:
    only the LAST committed round's state is ever read on resume, so
    superseded rounds are dead storage (a full labels/centroid copy per
    convergence check otherwise accretes forever).  Crash-safe: called
    AFTER the superseding commit, and a crash mid-prune just leaves
    garbage the next prune retries."""
    import re

    state = Path(out_dir) / "state"
    if not state.is_dir():
        return
    for d in state.iterdir():
        m = re.match(r"round_(\d+)_", d.name)
        if m and int(m.group(1)) < before_round:
            shutil.rmtree(d, ignore_errors=True)
