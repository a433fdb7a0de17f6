"""The workloads: how each stages its input, what one timed call is, and
how each call's output is checked.

Both workloads call plans.pipeline.run_extraction in a closed loop with
one client: the next call starts only after the previous one returned.
Outputs are kept per call and checked after the timed window.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import random
import shutil

from harness import BENCH, ROOT, fresh_dir, nproc

# Generated turns per input. At local[4] a warm run_extraction call on
# this many takes ~5-6 s, about half of it the per-call cost that does
# not grow with rows (jobs, ~130 small files, lineage, manifest): the
# most rows a run can afford, so that the Python extraction stage is as
# large a share of a call as it can be (README.md, "How much of a call
# is the kernel").
N_TURNS = 30_000
# Conversations longer than MAX_CONV_TURNS are left out. The generator's
# tail (1% of conversations at 1,000-2,000 turns, about half of all
# turns) would otherwise make an input hinge on a few conversations,
# and each lands in one bucket: the rows in resume_half's pending half
# swung from 2,862 to 4,497 between seeds at 6,000 turns.
MAX_CONV_TURNS = 100
N_BUCKETS = 64  # run_extraction's default, stated so resume can halve it
WARM_ROWS = 1024  # rows the set-up's warm-up job extracts
ORACLE_SAMPLE = 48
KEY_COLS = ["conv_id", "turn_idx"]
RESULT_COLS = ["status", "payload_kind", "extracted_text", "doc_json",
               "spans", "pages", "n_nodes", "error"]

def plan_convs(seed: int, n_turns: int) -> list[tuple[int, int]]:
    """(conversation, turns) in generator order, skipping conversations
    longer than MAX_CONV_TURNS, the last one cut so the turns add up to
    exactly n_turns."""
    from docling_api_spark.gen import conv_turn_count

    plan, acc, conv = [], 0, 0
    while acc < n_turns:
        n = conv_turn_count(conv, seed)
        if n <= MAX_CONV_TURNS:
            plan.append((conv, min(n, n_turns - acc)))
            acc += plan[-1][1]
        conv += 1
    return plan


def stage_transcripts(seed: int, n_turns: int, path: pathlib.Path,
                      files: int) -> int:
    """Writes the turns plan_convs picks for `seed` to `files` parquet
    files, in Python without Spark; returns the row count read back
    from the files' footers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_api_spark.gen import gen_conv

    rows = []
    for conv, turns in plan_convs(seed, n_turns):
        rows.extend(gen_conv(conv, seed)[:turns])
    schema = pa.schema([
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),  # read back as TimestampType
    ])
    table = pa.Table.from_pylist(rows, schema=schema)
    fresh_dir(path)
    step = -(-len(rows) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in path.glob("*.parquet"))


def _canon(value):
    """Plain Python form of a Spark Row / pandas value, for equality."""
    if hasattr(value, "asDict"):
        value = value.asDict()
    if isinstance(value, dict):
        return {k: _canon(v) for k, v in sorted(value.items())}
    if isinstance(value, (list, tuple)) or hasattr(value, "tolist"):
        return [_canon(v) for v in list(value)]
    if hasattr(value, "item"):
        return value.item()
    return value


def oracle_sample(input_dir: pathlib.Path, rng: random.Random, k: int) -> dict:
    """extraction.oracle.oracle_extract for k seeded input rows, computed
    in this process from the staged parquet, without Spark."""
    import pyarrow.parquet as pq

    from docling_api_spark.extraction.oracle import oracle_extract

    pdf = pq.read_table(input_dir, columns=KEY_COLS + ["text"]).to_pandas()
    pdf = pdf.iloc[sorted(rng.sample(range(len(pdf)), k))]
    return {(r["conv_id"], int(r["turn_idx"])): [_canon(r[c]) for c in RESULT_COLS]
            for r in oracle_extract(pdf).to_dict("records")}


def source_fingerprint() -> str:
    """sha256 over the docling_api_spark package and the benchmark's
    own sources."""
    h = hashlib.sha256()
    files = sorted((ROOT / "docling_api_spark").rglob("*.py")) + sorted(
        BENCH.glob("*.py"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


_OPEN_COST = "spark.sql.files.openCostInBytes"


def committed(spark, outs: dict[str, pathlib.Path], sample) -> dict:
    """For each named output dir: an order-free digest of its committed
    table (row count, distinct key count, hash sum) and its rows whose
    keys are in `sample`. One aggregation job over committed_view."""
    from functools import reduce

    from pyspark.sql import functions as F

    from docling_api_spark.plans.checkpoint import committed_view

    convs = sorted({c for c, _ in sample})
    views = [committed_view(spark, str(d)).select(
        F.lit(name).alias("_out"), *KEY_COLS, *RESULT_COLS)
        for name, d in outs.items()]
    # each output is ~130 small files: pack them into a few scan tasks
    # instead of one task per file (untimed; restored afterwards)
    open_cost = spark.conf.get(_OPEN_COST)
    spark.conf.set(_OPEN_COST, "1024")
    try:
        rows = reduce(lambda a, b: a.unionByName(b), views).groupBy("_out").agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct(*KEY_COLS).alias("keys"),
            F.sum(F.xxhash64(*KEY_COLS, *RESULT_COLS).cast("decimal(38,0)"))
            .cast("string").alias("hash"),
            F.collect_list(F.when(F.col("conv_id").isin(convs),
                                  F.struct(*KEY_COLS, *RESULT_COLS))
                           ).alias("sample"),
        ).collect()
    finally:
        spark.conf.set(_OPEN_COST, open_cost)
    out = {name: ({"rows": 0, "keys": 0, "hash": None}, {}) for name in outs}
    for row in rows:
        got = {(r["conv_id"], r["turn_idx"]): [_canon(r[c]) for c in RESULT_COLS]
               for r in row["sample"] if (r["conv_id"], r["turn_idx"]) in sample}
        out[row["_out"]] = ({k: row[k] for k in ("rows", "keys", "hash")}, got)
    return out


class Extraction:
    """run_extraction on the seed's staged transcripts.

    Set-up is stage + warm; prime, prepare and check are untimed; call
    is the timed operation and returns the rows it committed."""

    name = "mixed_fresh"

    def __init__(self, seed: int, work: pathlib.Path, replay: pathlib.Path):
        self.seed = seed
        self.work = work
        self.input = work / "in"
        self.replay_path = replay / (
            f"{self.name}-s{seed}-{source_fingerprint()[:16]}.sha256")
        self.rng = random.Random(f"perfbench:{self.name}:{seed}")

    def stage(self) -> int:
        """Writes the input; returns its row count. Python only, so it
        can run in another process while the JVM starts."""
        return stage_transcripts(self.seed, N_TURNS, self.input, nproc() * 4)

    def warm(self, spark) -> None:
        """Forks the Python workers and loads the kernel in each."""
        from pyspark.sql import functions as F

        from docling_api_spark.operators.extract import extract_text_column

        df = spark.read.parquet(str(self.input)).limit(WARM_ROWS)
        extract_text_column(df.repartition(spark.sparkContext.defaultParallelism)
                            ).agg(F.count(F.lit(1))).collect()

    def prime(self, spark) -> None:
        """Untimed, after set-up: a fresh run, whose committed set every
        call must reproduce and which lets the JVM compile the call's
        hot paths before anything is timed; the state calls start from;
        the oracle sample."""
        self.fresh = self.work / "fresh"
        self.run(spark, self.fresh)
        self.prime_state(spark)
        self.oracle = oracle_sample(self.input, self.rng, ORACLE_SAMPLE)

    def prime_state(self, spark) -> None:
        """A fresh run starts from an empty dir: nothing to prepare."""

    def prepare(self, out: pathlib.Path) -> None:
        shutil.rmtree(out, ignore_errors=True)
        self.out = out

    def run(self, spark, out: pathlib.Path, **kw) -> dict:
        from docling_api_spark.plans.pipeline import run_extraction

        return run_extraction(spark, spark.read.parquet(str(self.input)),
                              str(out), n_buckets=N_BUCKETS, **kw)

    def call(self, spark) -> int:
        return self.run(spark, self.out)["rows"]

    def expected_rows(self) -> int:
        return self.n_input

    def check(self, spark, calls: list[dict]) -> None:
        """Sets calls[i]["errors"] for every call's output dir."""
        todo = [c for c in calls if not c["errors"]]
        found = committed(spark, {"fresh": self.fresh}
                          | {c["group"]: c["out"] for c in todo}, self.oracle)
        reference = found["fresh"][0]
        for c in todo:
            digest, got = found[c["group"]]
            errors = c["errors"]
            if c["rows"] != self.expected_rows():
                errors.append(f"call committed {c['rows']} rows, input side "
                              f"says {self.expected_rows()}")
            if digest["rows"] != self.n_input:
                errors.append(f"{digest['rows']} committed rows for "
                              f"{self.n_input} input rows")
            if digest["keys"] != digest["rows"]:
                errors.append("duplicate (conv_id, turn_idx) in committed rows")
            if digest != reference:
                errors.append("committed set differs from a fresh run's")
            errors += self.replay(digest)
            if got != self.oracle:
                bad = sorted(k for k in self.oracle
                             if got.get(k) != self.oracle[k])
                errors.append(f"{len(bad)} sampled rows differ from "
                              f"oracle_extract, first {bad[:1]}")

    def replay(self, record: dict) -> list[str]:
        """The same seed gives the same committed set in every run made
        in this checkout with the same sources: the record is keyed by
        source_fingerprint, so a change to the extraction code or to the
        benchmark starts a new one."""
        digest = hashlib.sha256(json.dumps(record, sort_keys=True).encode()
                                ).hexdigest()
        if self.replay_path.exists():
            if self.replay_path.read_text() != digest:
                return [f"seed {self.seed} did not replay its recorded output"]
            return []
        self.replay_path.parent.mkdir(parents=True, exist_ok=True)
        self.replay_path.write_text(digest)
        return []


class ResumeHalf(Extraction):
    """The first buckets, holding about half the rows, are committed with
    limit_buckets once after set-up; each call restores that state
    untimed and completes it. Every completed set must equal the fresh
    run's."""

    name = "resume_half"

    def prime_state(self, spark) -> None:
        """The state every call starts from."""
        self.half = self.work / "half"
        self.half_rows = self.run(spark, self.half,
                                  limit_buckets=self.half_buckets(spark))["rows"]

    def half_buckets(self, spark) -> int:
        """How many of the first buckets hold closest to half the rows."""
        from docling_api_spark.plans.pipeline import with_bucket

        sizes = dict(with_bucket(spark.read.parquet(str(self.input)), N_BUCKETS)
                     .groupBy("bucket").count().collect())
        acc, best = 0, (self.n_input, 0)
        for k in range(1, N_BUCKETS):
            acc += sizes.get(k - 1, 0)
            best = min(best, (abs(2 * acc - self.n_input), k))
        return best[1]

    def prepare(self, out: pathlib.Path) -> None:
        super().prepare(out)
        shutil.copytree(self.half, out)

    def expected_rows(self) -> int:
        return self.n_input - self.half_rows


WORKLOADS = {w.name: w for w in (Extraction, ResumeHalf)}
