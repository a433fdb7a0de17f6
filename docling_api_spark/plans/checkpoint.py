"""Manifest-based snapshot/commit emulation (resumability, north rule).

In production framing this is an Iceberg table: each run's appended data
files + a snapshot commit; resume = diff committed snapshots. Iceberg
jars are not in this sandbox (documented substitution, SURVEY.md §7.3.3),
so snapshots are emulated deterministically:

- ``manifest.json`` is the output dir's single commit record (atomic
  tmp+rename write): the committed (run_id, bucket) pairs, the data
  schema, and one lineage record per committed bucket that holds rows.
  Data files live under ``data/run_id=R/bucket=B/``; a killed run leaves
  the previous manifest intact, so its partial data files belong to a
  (run_id, bucket) pair that was never committed and are invisible to
  ``committed_view`` — the same way Iceberg orphans uncommitted data
  files. Its lineage was never written either (it rides the same
  commit). The resume then reprocesses those buckets under a new run_id,
  with no double counting.
- Idempotent re-commit: committing an already-committed bucket is a
  no-op (J3 anti-join semantics; reference stripe_service.py:214-231).
- Only manifests carrying ``MANIFEST_FORMAT`` are read; an output dir
  written by an older version is refused, not migrated.

Readers of the output MUST go through ``committed_view`` which filters
to manifest-committed buckets — the Iceberg-snapshot-isolation analog.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import time

# written into every manifest; _read refuses any other value
MANIFEST_FORMAT = 1


class Manifest:
    def __init__(self, output_dir: str):
        self.dir = pathlib.Path(output_dir)
        self.path = self.dir / "manifest.json"
        self.lock_path = self.dir / "manifest.lock"

    @contextlib.contextmanager
    def _locked(self):
        """Advisory mutation lock: every read-modify-write of
        manifest.json runs under an exclusive ``flock`` on a persistent
        lock file, so a vacuum's lease pruning cannot lose-update a
        concurrent run's commit. Readers stay lock-free (the tmp+rename
        write is atomic). flock is kernel-arbitrated (no stat/steal
        races) and auto-released when the holder dies, so no staleness
        heuristics or grave files are needed. Local-filesystem semantics
        are what this sandbox emulation targets; the production framing
        is an Iceberg catalog's atomic commit, not file locks."""
        self.dir.mkdir(parents=True, exist_ok=True)
        import fcntl

        fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _read(self) -> dict:
        if not self.path.exists():
            return {"format": MANIFEST_FORMAT, "runs": [], "buckets": [],
                    "run_counter": 0, "inflight": {}, "retired": [],
                    "lineage": {}}
        state = json.loads(self.path.read_text())
        if state.get("format") != MANIFEST_FORMAT:
            raise ValueError(
                f"{self.path}: manifest format {state.get('format')!r}, "
                f"expected {MANIFEST_FORMAT}; output dirs written before "
                "lineage moved into the manifest are not migrated — write "
                "to a fresh output dir"
            )
        return state

    def _write(self, state: dict) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(state, indent=1, sort_keys=True))
        os.replace(tmp, self.path)  # atomic commit

    def committed_buckets(self) -> set[int]:
        return set(self._read()["buckets"])

    def next_run_id(self) -> str:
        """RESERVE the next run id: the incremented counter is persisted
        atomically BEFORE any data is written, so ids are never reused —
        a run that crashes after writing parquet but before committing
        burns its id and its directory stays an invisible orphan until
        vacuum (recycling the id would resurrect the orphan's rows into
        the re-committed (run_id, bucket) partitions). The id is also
        recorded as in-flight: vacuum() will not delete a fresh
        uncommitted dir out from under a live run."""
        with self._locked():
            state = self._read()
            run_id = f"run-{state['run_counter']:04d}"
            state["run_counter"] += 1
            # lease value = reservation time (ops-plane staleness signal
            # for vacuum; nothing in the data plane reads it)
            state["inflight"][run_id] = time.time()
            self._write(state)
        return run_id

    def _settle(self, state: dict, run_id: str) -> None:
        state["inflight"].pop(run_id, None)

    def commit(self, run_id: str, snapshot_id: str, buckets: list[int],
               data_schema_json: str | None = None,
               expect_data: bool = False, n_buckets: int | None = None,
               lineage: dict[int, dict] | None = None) -> None:
        """``expect_data=True`` asserts the run's data dir still exists at
        commit time (callers that wrote >0 rows set it): a dir reclaimed
        by a force-vacuum between write and commit must fail the commit
        loudly, never mark buckets committed with their data gone.
        ``n_buckets`` is recorded on first commit and must match on every
        later commit — mixing two bucketings in one output dir silently
        skips re-hashed rows on resume. ``lineage`` maps a bucket to its
        lineage record (the ``LINEAGE_SCHEMA`` fields but
        ``partition_id``); the records of newly committed buckets land in
        the same atomic write that commits them, so a refused or killed
        commit leaves no lineage behind."""
        with self._locked():
            state = self._read()
            if expect_data and not (self.dir / "data" / f"run_id={run_id}").exists():
                raise RuntimeError(
                    f"commit refused: data dir for {run_id} is missing "
                    "(reclaimed by vacuum?) — re-run the buckets"
                )
            if n_buckets is not None:
                recorded = state.get("n_buckets")
                if recorded is not None and recorded != n_buckets:
                    raise ValueError(
                        f"n_buckets mismatch: manifest has {recorded}, "
                        f"commit got {n_buckets}"
                    )
                state["n_buckets"] = n_buckets
            done = set(state["buckets"])  # hoisted: the comprehension
            # would otherwise rebuild the set per bucket (O(B²) while
            # holding the exclusive manifest lock)
            new = [b for b in buckets if b not in done]
            state["runs"].append(
                {"run_id": run_id, "snapshot_id": snapshot_id, "buckets": new}
            )
            state["buckets"] = sorted(done | set(new))
            lineage = lineage or {}
            state["lineage"].update(
                {str(b): lineage[b] for b in new if b in lineage})
            if data_schema_json:
                # recorded so a data dir that holds no parquet files yet
                # (zero-row runs) reads without inference
                state["data_schema"] = data_schema_json
            self._settle(state, run_id)
            self._write(state)

    def lineage(self) -> list[dict]:
        """One ``LINEAGE_SCHEMA`` row per committed bucket that holds
        rows, ordered by (run_id, partition_id). Compaction and vacuum
        keep the records: they describe the run that extracted the rows."""
        return sorted(
            ({"partition_id": int(b), **rec}
             for b, rec in self._read()["lineage"].items()),
            key=lambda r: (r["run_id"], r["partition_id"]),
        )

    def n_buckets(self) -> int | None:
        return self._read().get("n_buckets")

    def replace_runs(self, run_id: str, snapshot_id: str,
                     expect_data: bool = False) -> None:
        """Compaction commit: the single ``run_id`` now carries EVERY
        committed bucket; prior runs' data dirs become orphans (invisible
        to committed_view) and are recorded as RETIRED — vacuum may
        reclaim a retired dir immediately (its rows live on in the
        compacted run), while unknown dirs get the mtime grace window.
        The committed-bucket set is unchanged — resume is unaffected."""
        with self._locked():
            state = self._read()
            if expect_data and not (self.dir / "data" / f"run_id={run_id}").exists():
                raise RuntimeError(
                    f"compaction commit refused: data dir for {run_id} is "
                    "missing (reclaimed by vacuum?)"
                )
            retired = {r["run_id"] for r in state["runs"]} - {run_id}
            state["retired"] = sorted(set(state["retired"]) | retired)
            state["runs"] = [
                {"run_id": run_id, "snapshot_id": snapshot_id,
                 "buckets": list(state["buckets"])}
            ]
            self._settle(state, run_id)
            self._write(state)

    def snapshot(self) -> dict:
        """One consistent view of the whole manifest state —
        use this when multiple views (runs/leases/retired) must agree
        (e.g. vacuum), instead of N accessor calls that each re-read."""
        return self._read()

    @contextlib.contextmanager
    def mutate(self):
        """Read-modify-write of the whole manifest state under the
        mutation lock: yields the state dict; the (possibly modified)
        dict is atomically written back on normal exit. Used by vacuum so
        its delete-then-prune is one atomic step against concurrent
        commits — a commit landing after the lock is taken sees either
        the pre-vacuum or post-vacuum state, never a half-pruned one."""
        with self._locked():
            state = self._read()
            yield state
            self._write(state)

    def inflight(self) -> set[str]:
        return set(self._read()["inflight"])

    def runs(self) -> list[dict]:
        return self._read()["runs"]


def read_runs(spark, output_dir: str, schema, runs: list[tuple[str, list[int]]]):
    """The one reader of written data: the rows of the given (run_id,
    buckets) pairs, read with the recorded data ``schema`` (no footer
    inference, so a file-less zero-row dir reads as empty). The pairs are
    partition columns, so no file of another run or bucket is opened.
    With no pairs the data path is never touched (a fresh output dir has
    none)."""
    from functools import reduce

    from pyspark.sql import functions as F

    if not runs:
        return spark.createDataFrame([], schema)
    cond = reduce(
        lambda a, b: a | b,
        [(F.col("run_id") == run_id) & F.col("bucket").isin(buckets)
         for run_id, buckets in runs],
    )
    return spark.read.schema(schema).parquet(f"{output_dir}/data").filter(cond)


def recorded_schema(state: dict):
    """The data schema a manifest state recorded at its first commit (a
    ``StructType``; empty before any commit)."""
    from pyspark.sql import types as T

    recorded = state.get("data_schema")
    return T.StructType.fromJson(json.loads(recorded)) if recorded else T.StructType([])


def committed_view(spark, output_dir: str):
    """Snapshot-isolated read: only manifest-committed (run_id, bucket)
    pairs are visible; orphan files from killed runs are filtered by the
    partition columns (partition pruning — no data files of orphaned
    runs are even opened)."""
    state = Manifest(output_dir).snapshot()
    return read_runs(spark, output_dir, recorded_schema(state),
                     [(r["run_id"], r["buckets"]) for r in state["runs"]
                      if r["buckets"]])
