"""Checkpointed, resumable batch runs with per-partition lineage.

Production design (north rule): Iceberg snapshot-based checkpointing —
overwrite-by-partition is atomic per Iceberg commit and the snapshot ID is
the lineage record. Sandbox stand-in with identical semantics: the output is
hash-partitioned into ``n_buckets`` by a stable key; each bucket is written
with dynamic partition overwrite (idempotent — re-running a bucket replaces
exactly its own files), and a JSON manifest records completed buckets plus
their row counts (the lineage). ``resume=True`` skips completed buckets.

One Spark write per batch and nothing else: the per-bucket row counts, and
any per-bucket counter the caller's ``transform`` adds, are observed
(``DataFrame.observe``) on that write, so no count costs a cache, a second
evaluation or a re-read of the output.

Determinism: bucket = pmod(xxhash64(key), n_buckets) — a pure function of the
data, so a restarted run processes exactly the rows the failed run missed,
and re-processing a completed bucket cannot double-count.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

BUCKET_COL = "dq_bucket"


class CheckpointManifest:
    def __init__(self, path: str):
        self.path = Path(path)

    def load(self) -> dict:
        if self.path.exists():
            return json.loads(self.path.read_text())
        return {"completed": {}, "n_buckets": None}

    def _save(self, state: dict) -> None:
        """Write-then-rename: a crash never leaves a half-written manifest."""
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(state, indent=2))
        tmp.replace(self.path)

    def mark_done(self, records: dict[int, dict]) -> None:
        """Complete a batch: one ``{rows, elapsed_sec, ...}`` record per
        bucket, all written in ONE manifest replace."""
        state = self.load()
        finished_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        for bucket, record in records.items():
            state["completed"][str(bucket)] = {**record, "finished_at": finished_at}
        self._save(state)

    def set_n_buckets(self, n: int) -> None:
        state = self.load()
        if state["n_buckets"] not in (None, n):
            raise ValueError(
                f"Manifest bucket count {state['n_buckets']} != requested {n}; "
                "use a fresh manifest to change bucketing"
            )
        state["n_buckets"] = n
        self._save(state)

    def set_key_col(self, key_col: str) -> None:
        """Pin the bucketing key. bucket = pmod(xxhash64(key_col), n) is only
        stable across runs if the KEY is stable too: resuming a manifest
        written under a different key (e.g. adding --dedup exact, which
        re-keys buckets by the caption fingerprint, after a partial id-keyed
        run) would silently mix bucketing schemes — completed buckets keyed
        one way are skipped while pending buckets re-key the other way, so
        rows can duplicate across output partitions or escape dedup
        entirely. Mirrors set_n_buckets: raise on mismatch, adopt on a
        legacy manifest that never recorded a key."""
        state = self.load()
        if state.get("key_col") not in (None, key_col):
            raise ValueError(
                f"Manifest bucketing key {state['key_col']!r} != requested "
                f"{key_col!r}; use a fresh manifest to change the bucketing "
                "key (e.g. when toggling --dedup)"
            )
        state["key_col"] = key_col
        self._save(state)

    def completed_buckets(self) -> set[int]:
        return {int(b) for b in self.load()["completed"]}

    def merge_meta(self, key: str, entries: dict) -> None:
        """Merge ``entries`` into the manifest's ``meta[key]`` mapping (the
        job's run-wide records, e.g. its input lineage)."""
        state = self.load()
        state.setdefault("meta", {}).setdefault(key, {}).update(entries)
        self._save(state)


class BucketCounters:
    """The observe helper ``run_checkpointed`` hands to ``transform``.

    ``observe(frame, {name: Column})`` returns ``frame`` with one sum per
    (bucket of the batch, counter) observed on it; a boolean counter counts
    its true rows. An observation counts each row it sees once only if it
    sits above every exchange of the plan, in the write's result stage: a
    map stage that Spark recomputes would add its rows again.
    """

    def __init__(self, batch: list[int]):
        self.batch = batch
        self._observed: list[tuple[Observation, list[str]]] = []

    def __call__(self, frame: DataFrame, counters: dict[str, Column]) -> DataFrame:
        observation = Observation()
        self._observed.append((observation, list(counters)))
        # the counters become columns and the sums SQL text: one py4j call
        # per sum, where Column-built sums took ~4 (0.3 s per batch of 4
        # buckets x 22 counters, against 0.03 s)
        columns = {f"__dq_counter_{i}": value for i, value in enumerate(counters.values())}
        sums = [
            F.expr(f"sum(if({BUCKET_COL} = {b}, CAST(`{column}` AS BIGINT), NULL)) AS `{name}@{b}`")
            for column, name in zip(columns, counters, strict=True)
            for b in self.batch
        ]
        return frame.withColumns(columns).observe(observation, *sums).drop(*columns)

    def per_bucket(self) -> dict[int, dict[str, int]]:
        """Every observed figure by bucket, once the write has run; a bucket
        with no rows records 0."""
        figures: dict[int, dict[str, int]] = {b: {} for b in self.batch}
        for observation, names in self._observed:
            sums = observation.get
            for name in names:
                for b in self.batch:
                    figures[b][name] = int(sums[f"{name}@{b}"] or 0)
        return figures


def run_checkpointed(
    df: DataFrame,
    output_path: str,
    manifest_path: str,
    key_col: str,
    transform: Callable[[DataFrame, BucketCounters], DataFrame] | None = None,
    n_buckets: int = 8,
    buckets_per_batch: int = 2,
    resume: bool = True,
) -> dict:
    """Process ``df`` in bucket batches, writing partition-by-bucket output.

    ``transform(part, observe)`` maps a batch's rows to the rows to write;
    ``observe`` is the batch's ``BucketCounters``. After the batch's one
    write, each bucket's completion record holds its written ``rows`` and,
    under ``counts``, every counter ``transform`` observed.

    Returns a summary dict {buckets_run, buckets_skipped, rows_written}.
    """
    manifest = CheckpointManifest(manifest_path)
    manifest.set_n_buckets(n_buckets)
    manifest.set_key_col(key_col)
    done = manifest.completed_buckets() if resume else set()

    bucketed = df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )

    pending = [b for b in range(n_buckets) if b not in done]
    rows_written = 0
    for start in range(0, len(pending), buckets_per_batch):
        batch = pending[start : start + buckets_per_batch]
        t0 = time.time()
        observe = BucketCounters(batch)
        part = bucketed.filter(F.col(BUCKET_COL).isin(batch))
        if transform is not None:
            part = transform(part, observe)
        # lineage: the per-bucket row counts of the rows this write writes
        part = observe(part, {"rows": F.lit(1)})
        # zstd to match sources.io.write_table: measured fastest end-to-end
        # on the image-payload write (scripts/exp_write_path.py) and the
        # better ratio for the 100-TB at-rest + downstream-scan cost.
        # Dynamic overwrite as a write option: it replaces only this batch's
        # partitions and leaves the session's conf alone.
        (
            part.write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .parquet(output_path)
        )
        per_bucket_sec = round((time.time() - t0) / len(batch), 3)
        records = {}
        for b, counts in observe.per_bucket().items():
            rows = counts.pop("rows")
            rows_written += rows
            records[b] = {"rows": rows, "elapsed_sec": per_bucket_sec}
            if counts:
                records[b]["counts"] = counts
        manifest.mark_done(records)

    return {
        "buckets_run": len(pending),
        "buckets_skipped": len(done),
        "rows_written": rows_written,
    }
