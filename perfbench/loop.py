"""Set-up, the timed closed loop, output checks and the end-to-end
metrics, shared by untraced and traced runs."""

from __future__ import annotations

import pathlib
import statistics
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import harness
import proctree

# The window runs at least this many calls, so the median is always
# taken over the same number of calls while the JVM is still warming.
MIN_CALLS = 3


def setup(wl, work: pathlib.Path):
    """The run's one set-up, from a cold JVM as a user's job starts:
    session start (JVM launch) alongside input staging, then warm-up.
    Then the workload's untimed prime. Returns the session, the
    set-up's seconds and the session start's seconds."""
    t0 = time.perf_counter()
    # staging runs in a forked Python process while this one launches
    # the JVM (a thread would hold the GIL against every py4j call; fork,
    # unlike spawn, leaves no resource-tracker process behind)
    with ProcessPoolExecutor(1, mp_context=get_context("fork")) as pool:
        staged = pool.submit(wl.stage)
        spark = harness.start_session(work)
        start_s = time.perf_counter() - t0
        wl.n_input = staged.result()
    wl.warm(spark)
    setup_s = time.perf_counter() - t0
    log(f"[{wl.name}] set-up: {setup_s:.2f} s (session {start_s:.2f} s)")
    t0 = time.perf_counter()
    wl.prime(spark)
    log(f"[{wl.name}] prime: {time.perf_counter() - t0:.2f} s")
    return spark, setup_s, start_s


def timed_loop(spark, wl, seconds: float, tag: str,
               min_calls: int = MIN_CALLS) -> list[dict]:
    """Closed loop of prepare (untimed) and call (timed) until `seconds`
    have passed and `min_calls` calls were made; every call writes to
    its own output dir."""
    calls = []
    start = time.perf_counter()
    while len(calls) < min_calls or time.perf_counter() - start < seconds:
        i = len(calls)
        out = wl.work / f"{tag}-{i}"
        wl.prepare(out)
        harness.label(spark, f"{tag}-{i}", f"{wl.name} {tag} {i}")
        cpu0 = proctree.cpu_seconds() - proctree.jit_cpu_seconds()
        t0, t0_ms = time.perf_counter(), time.time() * 1e3
        try:
            rows, errors = wl.call(spark), []
        except Exception as exc:  # a failed call is counted, not fatal
            rows, errors = 0, [f"{type(exc).__name__}: {exc}"]
        wall, t1_ms = time.perf_counter() - t0, time.time() * 1e3
        cpu = proctree.cpu_seconds() - proctree.jit_cpu_seconds() - cpu0
        calls.append({"group": f"{tag}-{i}", "out": out, "rows": rows,
                      "wall_s": wall, "cpu_s": cpu, "errors": errors,
                      "start_ms": t0_ms, "end_ms": t1_ms})
        log(f"[{wl.name}] {tag} {i}: {wall:.2f} s, cpu {cpu:.2f} s, "
            f"{rows} rows")
    return calls


def check_calls(spark, wl, calls) -> None:
    """Checks every call's output after the window; sets calls[i]["ok"]."""
    harness.label(spark, "check", f"{wl.name} output checks")
    t0 = time.perf_counter()
    try:
        wl.check(spark, calls)
    except Exception as exc:
        for c in calls:
            c["errors"].append(f"check raised {type(exc).__name__}: {exc}")
    log(f"[{wl.name}] checks: {time.perf_counter() - t0:.2f} s")
    for c in calls:
        for e in c["errors"]:
            log(f"[{wl.name}] {c['group']} FAILED: {e}")
        c["ok"] = not c["errors"]


def end_to_end(calls, setup_s: float) -> dict:
    med = statistics.median
    ok = [c for c in calls if c["ok"]] or calls
    return {
        "rows_per_s": {"value": med(c["rows"] / c["wall_s"] for c in ok),
                       "unit": "1/s"},
        "cpu_s": {"value": med(c["cpu_s"] for c in ok), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "ok_frac": {"value": sum(c["ok"] for c in calls) / len(calls),
                    "unit": "frac"},
    }


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
