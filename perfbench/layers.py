"""The traced run: per-layer metrics from Spark's event log, from timing
each layer's public functions from outside, and from a Spark-free
kernel profile.

Order: set-up and prime; an untraced window; a traced window (event log
on) and one probe per layer; a second untraced window. Each window runs
in a new session after a warm-up. The two untraced windows bracket the
traced one and the overhead compares the windows call for call, so it
is not a figure of where on the JVM's warm-up curve each window fell.
Every call and probe runs under its own Spark job group, so each stage
in the log is attributed.
The spans (bench run -> call or probe -> Spark job -> stage) and the
kernel's cProfile top-N go to out/trace-<workload>-s<seed>.json.
"""

from __future__ import annotations

import json
import re
import statistics
import time

import eventlog
import harness
import kernel_profile
import loop
import proctree
from workloads import N_BUCKETS

# The corpus probes take the first file of the staged input, 2,500
# documents, and each untraced window runs UNTRACED_CALLS calls, so a
# traced run stays well within its time limit. The tracing overhead
# compares the first UNTRACED_CALLS calls of every window.
CORPUS_FILES = 1
UNTRACED_CALLS = 2
EVAL_SEED = 900_001  # the decontamination eval set is the same for every seed
EVAL_DOCS = 8

med = statistics.median


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans under the bench run, kept in memory: name, start_ms, end_ms."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []

    def timed(self, group: str, fn, *args):
        """Runs fn under job group `group`; returns (seconds, result)."""
        harness.label(self.spark, group, group)
        t0, t0_ms = time.perf_counter(), time.time() * 1e3
        result = fn(*args)
        self.span(group, t0_ms)
        return time.perf_counter() - t0, result

    def span(self, name: str, start_ms: float, end_ms: float | None = None):
        self.spans.append({"name": name, "start_ms": start_ms,
                           "end_ms": end_ms or time.time() * 1e3})

    def probe(self, group: str, reps: int, fn, *args) -> float:
        return med(self.timed(f"{group}:{i}", fn, *args)[0] for i in range(reps))


def _union_ms(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _span_tree(spans, summary) -> list[dict]:
    """Adds Spark jobs and stages under the call/probe spans and computes
    each span's self time: its duration minus what its children cover."""
    jobs = summary["jobs"]
    stages = {st["stage_id"]: st for st in summary["stages"]}
    tree = []
    for sp in spans:
        kids = []
        for jid, job in sorted(jobs.items()):
            if job["group"] != sp["name"] or "end_ms" not in job:
                continue
            st_spans = [{"name": f"stage {sid} {stages[sid]['name'][:40]}",
                         "start_ms": stages[sid]["submit_ms"],
                         "end_ms": stages[sid]["complete_ms"]}
                        for sid in job["stages"]
                        if sid in stages and stages[sid].get("job") == jid
                        and stages[sid]["submit_ms"]]
            for s in st_spans:
                s["self_s"] = (s["end_ms"] - s["start_ms"]) / 1e3
            kids.append({"name": f"job {jid}", "start_ms": job["start_ms"],
                         "end_ms": job["end_ms"], "children": st_spans,
                         "self_s": (job["end_ms"] - job["start_ms"] - _union_ms(
                             (s["start_ms"], s["end_ms"]) for s in st_spans)) / 1e3})
        tree.append(sp | {"children": kids, "self_s": (
            sp["end_ms"] - sp["start_ms"]
            - _union_ms((k["start_ms"], k["end_ms"]) for k in kids)) / 1e3})
    return tree


def _group_stages(summary, group: str) -> list[dict]:
    return [st for st in summary["stages"] if st.get("group") == group]


def _pipeline(summary, call: dict, files: dict, in_bytes: int) -> dict:
    """One run_extraction call split by stage and job. The data write is
    the call's first SQL execution; lineage is every job after it."""
    jobs = {j: v for j, v in summary["jobs"].items()
            if v["group"] == call["group"] and "end_ms" in v}
    stages = _group_stages(summary, call["group"])
    py = [st for st in stages if st["bytes_to_python"] > 0]
    first = min(int(v["execution"]) for v in jobs.values() if v["execution"])
    write = [st for st in stages if st not in py
             and st.get("execution") == str(first)]
    write_end = summary["executions"][str(first)]["end_ms"]
    lineage = [(v["start_ms"], v["end_ms"]) for v in jobs.values()
               if v["start_ms"] >= write_end]
    return {
        "map_stage_s": sum(st["wall_s"] for st in py),
        "write_stage_s": sum(st["wall_s"] for st in write),
        "lineage_s": _union_ms(lineage) / 1e3,
        "driver_s": (call["end_ms"] - call["start_ms"] - _union_ms(
            (v["start_ms"], v["end_ms"]) for v in jobs.values())) / 1e3,
        "shuffle_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "files_written": len(files),
        "out_bytes_per_in_byte": sum(files.values()) / in_bytes,
        "gc_s": sum(st["gc_s"] for st in stages),
        "rows_read_per_row": sum(st["input_records"] for st in py)
        / call["rows"],
    }


def _files(path, before=None) -> dict:
    """Data files under an output dir (relative path -> bytes), minus
    those already in `before`."""
    if path is None:
        return {}
    found = {p.relative_to(path): p.stat().st_size
             for p in (path / "data").rglob("*.parquet")}
    return {k: v for k, v in found.items() if k not in _files(before)}


def _corpus_probes(tr: Tracer, spark, wl, work) -> dict:
    """Each public corpus function on the workload's payloads as
    documents, with a noop sink; then the whole annotate + funnel."""
    from pyspark.sql import functions as F

    from docling_api_spark.gen import payload_for
    from docling_api_spark.operators.decontam import ngram_decontaminate
    from docling_api_spark.operators.dedup import minhash_near_duplicates
    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.operators.textstats import with_quality_score
    from docling_api_spark.plans.corpus_pipeline import (annotate_corpus,
                                                         corpus_funnel)

    files = sorted(wl.input.glob("*.parquet"))[:CORPUS_FILES]
    docs = spark.read.parquet(*map(str, files)).select(
        (F.substring("conv_id", 6, 8).cast("long") * 100_000
         + F.col("turn_idx")).alias("doc_id"), "text")
    evals, turn = [], 0
    while len(evals) < EVAL_DOCS:
        cls, text = payload_for(EVAL_SEED, 0, turn)
        if cls in ("plain", "markdownish"):
            evals.append((len(evals) + 1, text))
        turn += 1
    eval_df = spark.createDataFrame(evals, "doc_id long, text string")

    m = {"extract_s": tr.probe("corpus.extract", 1, lambda: _noop(
        extract_text_column(docs, keep_cols=["doc_id"])))}
    ext_dir = work / "corpus_ext"
    tr.timed("corpus.stage", lambda: extract_text_column(
        docs, keep_cols=["doc_id"]).filter("status = 'success'").select(
        "doc_id", "extracted_text").write.parquet(str(ext_dir)))
    ext = spark.read.parquet(str(ext_dir))
    m["quality_s"] = tr.probe("corpus.quality", 2, lambda: _noop(
        with_quality_score(ext, text_col="extracted_text")))
    m["near_dedup_s"] = tr.probe("corpus.near_dedup", 1, lambda: _noop(
        minhash_near_duplicates(ext, "doc_id", "extracted_text")))
    m["decontam_s"] = tr.probe("corpus.decontam", 2, lambda: _noop(
        ngram_decontaminate(ext, eval_df.withColumnRenamed(
            "text", "extracted_text"), "doc_id", "extracted_text")))
    m["annotate_s"] = tr.probe("corpus.annotate", 1, lambda: corpus_funnel(
        annotate_corpus(docs, eval_df)))
    return m


def traced_run(wl, work, out, args):
    run_ms = time.time() * 1e3
    with proctree.RssPeak() as rss:
        spark, setup_s, cold_start = loop.setup(wl, work)
        spark.stop()
        spark = harness.start_session(work)
        wl.warm(spark)
        before = loop.timed_loop(spark, wl, args.seconds, "untraced",
                                 UNTRACED_CALLS)

    spark.stop()
    spark = harness.start_session(work, work / "eventlog")
    tr = Tracer(spark)
    tr.span("untraced set-up and window", run_ms)  # incl. prime
    tr.timed("warm", wl.warm, spark)
    calls = loop.timed_loop(spark, wl, args.seconds, "call")
    for c in calls:
        tr.span(c["group"], c["start_ms"], c["end_ms"])

    # layer probes, each timed from outside
    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.plans.checkpoint import Manifest

    scan_s = tr.probe("scan", 3, lambda: _noop(spark.read.parquet(str(wl.input))))
    extract_s = tr.probe("extract", 2, lambda: _noop(
        extract_text_column(spark.read.parquet(str(wl.input)))))
    state = getattr(wl, "half", work / "empty")
    t0 = time.perf_counter()
    for _ in range(20):
        manifest = Manifest(str(state))
        done = manifest.committed_buckets()
        manifest.n_buckets()
    ckpt_read_s = (time.perf_counter() - t0) / 20
    corpus = _corpus_probes(tr, spark, wl, work)
    loop.check_calls(spark, wl, calls)
    spark.stop()  # closes the event log

    after_ms = time.time() * 1e3
    spark = harness.start_session(work)
    wl.warm(spark)
    after = loop.timed_loop(spark, wl, args.seconds, "untraced-after",
                            UNTRACED_CALLS)
    spark.stop()
    tr.span("untraced window after", after_ms)

    # Spark-free kernel profile on the workload's own payloads
    import pyarrow.parquet as pq

    from docling_api_spark.session import ARROW_BATCH_ROWS

    kernel_ms = time.time() * 1e3
    texts = pq.read_table(wl.input, columns=["text"])["text"].to_pylist()
    kern = kernel_profile.batch_profile(texts[:ARROW_BATCH_ROWS])
    samples = kernel_profile.class_samples(args.seed)
    per_class = kernel_profile.cpu_us_per_doc(samples)
    top = kernel_profile.html_top(samples)
    tr.span("kernel", kernel_ms)

    summary = eventlog.summarise(eventlog.read_events(work / "eventlog"))
    groups = eventlog.by_group(summary)
    in_bytes = sum(p.stat().st_size for p in wl.input.glob("*.parquet"))
    pipe = [_pipeline(summary, c, _files(c["out"], getattr(wl, "half", None)),
                      in_bytes)
            for c in calls if c["rows"]]
    pm = {k: med(p[k] for p in pipe) for k in pipe[0]}
    ext = [groups[f"extract:{i}"] for i in range(2)]
    ext_py = [sum(st["run_s"] for st in _group_stages(summary, f"extract:{i}")
                  if st["bytes_to_python"] > 0) for i in range(2)]
    kernel_cpu_s = wl.n_input / kern["docs_per_cpu_s"]
    corpus_groups = [v for g, v in groups.items()
                     if g.startswith("corpus.") and g != "corpus.stage"]
    corpus_run = sum(v["run_s"] for v in corpus_groups) or 1.0

    metrics = {}

    def put(name, value, unit):
        metrics[name] = {"value": float(value), "unit": unit}

    for cls, us in per_class.items():
        put(f"kernel.cpu_us_per_doc.{cls}", us, "us")
    put("kernel.docs_per_cpu_s", kern["docs_per_cpu_s"], "1/s")
    put("kernel.sniff_us_per_doc", kern["sniff_us_per_doc"], "us")
    put("kernel.in_bytes", kern["in_bytes"], "B")
    put("kernel.out_chars", kern["out_chars"], "count")
    put("scan.s", scan_s, "s")
    put("scan.rows_read_per_row_committed",
        pm["rows_read_per_row"], "ratio")
    put("extract.s", extract_s, "s")
    for key in ("python_run_s", "python_init_s"):
        put(f"extract.{key}", med(g[key] for g in ext), "s")
    for key in ("bytes_to_python", "bytes_from_python"):
        put(f"extract.{key}", med(g[key] for g in ext), "B")
    put("extract.plumbing_ratio", med(ext_py) / kernel_cpu_s, "ratio")
    for key, unit in (("map_stage_s", "s"), ("write_stage_s", "s"),
                      ("lineage_s", "s"), ("driver_s", "s"),
                      ("shuffle_bytes", "B"), ("files_written", "count"),
                      ("out_bytes_per_in_byte", "ratio"), ("gc_s", "s")):
        put(f"pipeline.{key}", pm[key], unit)
    put("checkpoint.pending_buckets", N_BUCKETS - len(done), "count")
    put("checkpoint.read_s", ckpt_read_s, "s")
    for key, value in corpus.items():
        put(f"corpus.{key}", value, "s")
    put("corpus.shuffle_bytes", sum(v["shuffle_write_bytes"] for v in corpus_groups), "B")
    put("corpus.python_share", sum(v["python_run_s"] for v in corpus_groups)
        / corpus_run, "frac")
    put("session.start_s", cold_start, "s")
    put("peak_rss_mb", rss.peak_mb, "MB")
    put("kernel.share_of_cpu", med(
        c["rows"] / kern["docs_per_cpu_s"] / c["cpu_s"] for c in before + after),
        "frac")
    untraced_s = (med(c["wall_s"] for c in before)
                  + med(c["wall_s"] for c in after)) / 2
    put("trace.overhead_frac", med(c["wall_s"] for c in calls[:UNTRACED_CALLS])
        / untraced_s - 1, "frac")

    tree = _span_tree(tr.spans, summary)
    layer_self = {}
    for sp in tree:
        layer = re.sub(r"[-:]\d+$", "", sp["name"])
        layer_self[layer] = layer_self.get(layer, 0.0) + sp["self_s"]
    trace_path = out / f"trace-{wl.name}-s{args.seed}.json"
    trace_path.parent.mkdir(parents=True, exist_ok=True)
    trace_path.write_text(json.dumps({
        "workload": wl.name, "seed": args.seed, "rows_in": wl.n_input,
        "setup_s": setup_s,
        "untraced_call_s": {"before": [c["wall_s"] for c in before],
                            "after": [c["wall_s"] for c in after]},
        "traced_call_s": [c["wall_s"] for c in calls],
        "layer_self_s": layer_self, "metrics": metrics,
        "kernel": kern, "kernel_html_top": top,
        "stages": summary["stages"],
        "spans": {"name": "bench run", "start_ms": run_ms,
                  "end_ms": time.time() * 1e3, "children": tree},
    }, indent=1, default=str))
    loop.log(f"[{wl.name}] trace written to {trace_path}; self time per "
             "layer: " + ", ".join(f"{k} {v:.2f} s" for k, v in layer_self.items()))
    return calls, metrics
