"""Spark-free profile of the extraction kernel (extraction/kernel.py).

    python3 perfbench/kernel_profile.py --seed 1

Prints JSON: CPU microseconds per document for each of the generator's
payload classes (CLASS_SAMPLE documents each) and a cProfile top
PROFILE_TOP (by self time) over the HTML classes. The traced benchmark
run calls the same functions with the same constants, so for one seed
both report the same profile.
"""

from __future__ import annotations

import argparse
import cProfile
import io
import json
import pathlib
import pstats
import statistics
import sys
import time

HTML_CLASSES = ("html_article", "html_table", "html_linkfarm")
CLASS_SAMPLE = 40  # documents per payload class
PROFILE_TOP = 15  # functions in the HTML cProfile listing


def class_samples(seed: int) -> dict[str, list[str]]:
    """CLASS_SAMPLE payloads of every generator class (fewer for a class
    rarer than that in the first 40,000 turns), in generator order for
    `seed`."""
    from docling_api_spark.gen import PAYLOAD_CLASSES, conv_turn_count, payload_for

    out = {name: [] for name, _ in PAYLOAD_CLASSES}
    seen = conv = 0
    while seen < 40_000 and min(len(v) for v in out.values()) < CLASS_SAMPLE:
        for turn in range(conv_turn_count(conv, seed)):
            cls, text = payload_for(seed, conv, turn)
            if len(out[cls]) < CLASS_SAMPLE:
                out[cls].append(text)
            seen += 1
        conv += 1
    return out


def _cpu(fn, *args) -> float:
    t0 = time.process_time()
    fn(*args)
    return time.process_time() - t0


def cpu_us_per_doc(samples: dict[str, list[str]], reps: int = 3) -> dict[str, float]:
    """Median over `reps` of extract_flat CPU per document, per class."""
    from docling_api_spark.extraction.kernel import extract_flat

    return {cls: statistics.median(_cpu(extract_flat, texts) for _ in range(reps))
            / len(texts) * 1e6
            for cls, texts in samples.items() if texts}


def html_top(samples: dict[str, list[str]]) -> list[dict]:
    """cProfile of extract_flat over the HTML classes, the PROFILE_TOP
    functions by self time."""
    from docling_api_spark.extraction.kernel import extract_flat

    texts = [t for cls in HTML_CLASSES for t in samples.get(cls, [])]
    prof = cProfile.Profile()
    prof.runcall(extract_flat, texts)
    stats = pstats.Stats(prof, stream=io.StringIO())
    total = sum(v[2] for v in stats.stats.values()) or 1.0
    rows = sorted(stats.stats.items(), key=lambda kv: -kv[1][2])[:PROFILE_TOP]
    return [{"function": f"{pathlib.Path(f).name}:{line}:{name}",
             "calls": v[1], "self_s": v[2], "self_share": v[2] / total,
             "cum_s": v[3]}
            for (f, line, name), v in rows]


def batch_profile(texts: list[str]) -> dict:
    """The kernel over one workload's payloads in Arrow-batch-sized
    slices, as the mapInArrow operator calls it."""
    from docling_api_spark.extraction.kernel import extract_flat, sniff_kind
    from docling_api_spark.session import ARROW_BATCH_ROWS

    sniff = _cpu(lambda: [sniff_kind(t) for t in texts])
    cpu = out_chars = 0.0
    for i in range(0, len(texts), ARROW_BATCH_ROWS):
        t0 = time.process_time()
        cols = extract_flat(texts[i:i + ARROW_BATCH_ROWS])
        cpu += time.process_time() - t0
        out_chars += sum(len(t) for t in cols["extracted_text"] if t)
    return {
        "docs": len(texts),
        "cpu_s": cpu,
        "docs_per_cpu_s": len(texts) / cpu,
        "sniff_us_per_doc": sniff / len(texts) * 1e6,
        "in_bytes": sum(len(t.encode()) for t in texts if t),
        "out_chars": out_chars,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    samples = class_samples(args.seed)
    print(json.dumps({
        "seed": args.seed,
        "docs_per_class": {k: len(v) for k, v in samples.items()},
        "cpu_us_per_doc": cpu_us_per_doc(samples),
        "html_top": html_top(samples),
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
