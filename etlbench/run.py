#!/usr/bin/env python3
"""MLentory ETL benchmark: incremental refreshes and the read surface.

    python3 etlbench/run.py --workload etl_refresh --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates a model catalog from ``--seed``
(the program only sees the generated landing JSONL files), sets up a
store with the full-catalog first load and one unrecorded call of each
read op, then measures refresh cycles for ``--seconds``: each cycle is a
read pass through ``api.QueryInterface`` on the committed store, one
incremental refresh, and a read pass on the files it just wrote. One
cycle outlasts BENCHMARK.json's ``run_seconds``, so an untraced run
measures one refresh. Every refresh and read is checked against DuckDB
over the committed parquet files after its timer stops.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
run context (source digest, cores, load, CPU time). The exit code is 1
when any output check failed, 2 when the program cannot be imported.

Workloads (sizes are in ``WORKLOADS``; BENCHMARK.json says why each):

- ``etl_refresh``: large refreshes re-extracting ~30% of the catalog
  (recency-biased; ~10% of those changed, ~5% of the catalog new);
- ``refresh_with_reads``: small refreshes of ~1% of the catalog.

Both run the same 16 reads around each refresh (``READ_BEFORE`` on the
store before it, ``READ_AFTER`` on the files it just wrote).

With ``--trace 1`` cycles alternate untraced and traced (at least
untraced, traced, untraced; the tracing overhead is the traced cycle's
time minus the untraced ones' median). Traced cycles set a job group per layer call, materialize the
melt output at the melt→store boundary, and are resolved against
Spark's status store afterwards; spans go to ``.bench_out/``.

Which end-to-end metric each layer metric should move:

- ``versioned_store.task_s``, ``shuffle_bytes``, ``write_amp`` and
  ``useful_write_ratio``: ``refresh_s_p50`` and ``refresh_rows_per_s``
  on etl_refresh, and ``store_bytes_per_triple``;
- ``versioned_store.driver_s``, ``build_ms`` and ``jobs``:
  ``refresh_s_p50`` on both workloads, most on refresh_with_reads;
- ``melt.*`` and ``sources.*``: ``refresh_s_p50`` on etl_refresh, little
  on refresh_with_reads; no read metric;
- ``search.*`` and ``graph.*``: ``refresh_s_p50`` on both workloads;
- ``api.<op>.*``: ``point_read_ms_p50`` and ``scan_read_ms_p50`` on
  both workloads (the reads always follow a refresh, so a read-cache
  gain fades and a layout gain stays);
  ``api.<op>.records_per_result``: ``point_read_ms_p50``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass(frozen=True)
class Workload:
    models: int
    reextract: float
    changed: float
    new: float


WORKLOADS = {
    "etl_refresh": Workload(models=300, reextract=0.30, changed=0.10, new=0.05),
    "refresh_with_reads": Workload(models=300, reextract=0.01, changed=0.10, new=0.002),
}
# The reads around every refresh: a fixed op sequence with seeded
# parameters, so every run sends the same mix. The first half runs on the
# store before the refresh, the second on the store it just committed,
# so a run's reads span the refresh (~25 s) rather than one short burst
# that a few seconds of host noise can cover. 8 lookups and 1 history
# are the point reads; of the 7 scans, 4 (2 search_bm25, 2 graph_at)
# cost about the same, so the scan median falls inside that cluster
# rather than on the edge between two single calls.
READ_BEFORE = ("lookup", "search_bm25", "lookup", "graph_at", "lookup", "history", "lookup", "search_prefix")
READ_AFTER = ("lookup", "search_bm25", "lookup", "graph_at", "lookup", "changes_between", "lookup", "counts")
TINY_MODELS = 150


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help=f"{TINY_MODELS}-model catalog (smoke test)")
    ap.add_argument(
        "--wrong-expectation",
        action="store_true",
        help="expect one malformed landing line too many, so the quarantine check must fail (smoke test)",
    )
    return ap.parse_args(argv)


# ---------------------------------------------------------------- context

def _cpu_ticks() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def _git(*args) -> str | None:
    try:
        out = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=10, check=True
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def _source_digest() -> str:
    """sha256 over the package's Python sources, so a result names the
    code it measured even outside a git checkout."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mlentory_etl_pipeline_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _proc_cpu_s(pid) -> tuple[float, float]:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    return int(fields[11]) / tick, int(fields[12]) / tick


# ---------------------------------------------------------------- reads

def read_args(op: str, cat, k: int, rng: random.Random) -> tuple:
    """Seeded parameters for one read; subjects are Zipf-skewed toward
    recent models, time points are refresh times up to refresh ``k``."""
    from catalog import refresh_time

    if op in ("lookup", "history"):
        return (cat.models[cat.recent_index(rng)]["subject"],)
    if op == "search_prefix":
        m = cat.models[cat.recent_index(rng)]
        return (m["name"][: rng.randint(3, 6)], m["license"])
    if op == "search_bm25":
        return (cat.pools.draw(rng, "vocab"), rng.choice(cat.pools.vocab))
    if op == "graph_at":
        return (refresh_time(rng.randint(0, k)),)
    if op == "changes_between":
        j = rng.randint(min(1, k), k)
        return (refresh_time(j - 1), refresh_time(j))
    return ()


# ---------------------------------------------------------------- metrics

def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def end_to_end(setup_s, refreshes, reads, store_bytes, current_triples, rss_kb, attempted, failed):
    from pipeline import POINT_OPS

    point = [r["ms"] for r in reads if r["op"] in POINT_OPS]
    scan = [r["ms"] for r in reads if r["op"] not in POINT_OPS]
    return {
        "setup_s": (setup_s, "s"),
        "refresh_s_p50": (_med([r["wall_s"] for r in refreshes]), "s"),
        "refresh_rows_per_s": (_med([r["landing_rows"] / r["wall_s"] for r in refreshes]), "1/s"),
        "point_read_ms_p50": (_med(point), "ms"),
        "scan_read_ms_p50": (_med(scan), "ms"),
        "store_bytes_per_triple": (store_bytes / max(1, current_triples), "B"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }


_LAYER_UNITS = {
    "wall_s": "s", "task_s": "s", "driver_s": "s", "build_ms": "ms",
    "shuffle_bytes": "B", "output_bytes": "B",
    "parallelism": "ratio", "write_amp": "ratio", "useful_write_ratio": "ratio",
}


def per_layer(refreshes, reads):
    from pipeline import LAYERS, READ_OPS

    traced = [r for r in refreshes if r["traced"]]
    untraced = [r for r in refreshes if not r["traced"]]

    out = {}
    for layer in LAYERS:
        for key in traced[0]["layers"][layer]:
            value = _med([r["layers"][layer][key] for r in traced])
            out[f"{layer}.{key}"] = (value, _LAYER_UNITS.get(key, "count"))
    walls = _med([r["wall_s"] for r in traced])
    out["refresh.unattributed_s"] = (walls - sum(out[f"{la}.wall_s"][0] for la in LAYERS), "s")
    out["refresh.trace_overhead_s"] = (walls - _med([r["wall_s"] for r in untraced]), "s")
    t_reads = [r for r in reads if r["traced"]]
    for op in READ_OPS:
        rs = [r for r in t_reads if r["op"] == op]
        out[f"api.{op}.ms_p50"] = (_med([r["ms"] for r in rs]), "ms")
        out[f"api.{op}.driver_ms"] = (_med([r["span"].driver_s * 1000 for r in rs]), "ms")
        out[f"api.{op}.task_ms"] = (_med([r["span"].task_s * 1000 for r in rs]), "ms")
        out[f"api.{op}.jobs"] = (_med([r["span"].jobs for r in rs]), "count")
        out[f"api.{op}.records_per_result"] = (
            _med([r["span"].input_records / max(1, r["rows"]) for r in rs]),
            "ratio",
        )
    out["api.trace_overhead_ms"] = (
        _med([r["ms"] for r in t_reads]) - _med([r["ms"] for r in reads if not r["traced"]]),
        "ms",
    )
    return out


def _layer_counts(out, tracer_spans, landing_bytes, stats_before, stats_after, good_rows, docs_rows, lines, line_bytes):
    """Per-layer numbers of one traced refresh, from its spans and the
    counts taken after it."""
    sp = {s.name: s for s in tracer_spans if s.trace_id == f"refresh-{out['k']}"}
    store = sp["versioned_store"]
    opened, extended = stats_after["opened"], stats_after["extended"]
    newly_deprecated = stats_after["deprecated"] - stats_before["deprecated"]
    return {
        "sources": {
            "wall_s": sp["sources"].wall_s,
            "rows_in": good_rows,
            "quarantined": out["quarantined"],
            "task_s": sp["sources"].task_s,
        },
        "melt": {
            "build_ms": out["melt_build_ms"],
            "wall_s": sp["melt"].wall_s,
            "task_s": sp["melt"].task_s,
            "rows_out": out["melt_rows"],
            "shuffle_bytes": sp["melt"].shuffle_write_bytes,
        },
        "versioned_store": {
            "build_ms": out["store_build_ms"],
            "wall_s": store.wall_s,
            "driver_s": store.driver_s,
            "jobs": store.jobs,
            "tasks": store.tasks,
            "task_s": store.task_s,
            "parallelism": store.task_s / store.job_wall_s if store.job_wall_s else 0.0,
            "shuffle_bytes": store.shuffle_write_bytes,
            "output_bytes": store.output_bytes,
            "write_amp": store.output_bytes / landing_bytes,
            "useful_write_ratio": (opened + extended + newly_deprecated) / max(1, stats_after["range_rows"]),
            "ranges_opened": opened,
            "ranges_deprecated": newly_deprecated,
            "range_rows": stats_after["range_rows"],
            "failed_tasks": store.failed_tasks,
        },
        "search": {"wall_s": sp["search"].wall_s, "docs_out": docs_rows, "task_s": sp["search"].task_s},
        "graph": {"wall_s": sp["graph"].wall_s, "lines_out": lines, "output_bytes": line_bytes},
    }


# ---------------------------------------------------------------- the run

def run(args, t_process: float) -> tuple[dict, dict, int, int]:
    from catalog import MALFORMED_PER_FILE, Catalog, refresh_time
    from checks import Oracle, read_failures, text_lines
    from pipeline import READ_OPS, Lake, run_read
    from session import jvm_gc_jit_s, jvm_pid, nproc, start_spark, stop_spark
    from tracing import NO_TRACE, Tracer

    wl = WORKLOADS[args.workload]
    n_models = TINY_MODELS if args.tiny else wl.models
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work)
    spark_start_s = time.perf_counter() - t_process
    sc = spark.sparkContext
    failures: list[str] = []
    attempted = failed = 0
    refreshes: list[dict] = []
    reads: list[dict] = []
    expect_quarantined = MALFORMED_PER_FILE + (1 if args.wrong_expectation else 0)
    try:
        cat = Catalog(args.seed, n_models)
        read_rng = random.Random(args.seed * 1_000_003 + 17)
        lake = Lake(spark, os.path.join(work, "lake"))
        oracle = None  # DuckDB views need the committed files of the first load
        landing_dir = os.path.join(work, "landing")

        checks_s = [0.0]  # wall time of the output checks, all outside the timers

        def check(errors: list[str]) -> None:
            nonlocal attempted, failed
            attempted += 1
            if errors:
                failed += 1
                failures.extend(errors)

        def refresh(k: int, records, tracer, loaded: int, landing_summary=None) -> dict:
            """Refresh ``k`` with ``records``; afterwards the store holds the
            first ``loaded`` models of the catalog."""
            nonlocal oracle
            landing = os.path.join(landing_dir, f"refresh-{k:04d}.jsonl")
            landing_bytes = cat.write_landing(landing, records)
            prev_t = refresh_time(k - 1) if k else None
            stats_before = oracle.range_stats(refresh_time(k)) if k else {"deprecated": 0}
            out = lake.refresh(landing, refresh_time(k), prev_t, k, tracer)
            t_checks = time.perf_counter()
            oracle = oracle or Oracle(lake.root, os.path.join(work, "tmp"))
            # Checks and counts run after the refresh's timer stopped.
            stats = oracle.range_stats(refresh_time(k))
            lines, line_bytes = text_lines(out.delta_dir)
            errors = [f"refresh {k}: {e}" for e in oracle.scd2_failures()]
            if out.quarantined != expect_quarantined:
                errors.append(f"refresh {k}: quarantined {out.quarantined} lines, expected {expect_quarantined}")
            want_model = sum(13 if m["evaluation"] else 11 for m in cat.models[:loaded])
            got_model = oracle.current_model_triples()
            if got_model != want_model:
                errors.append(f"refresh {k}: {got_model} current model triples, generator expects {want_model}")
            want_lines = len(oracle.changes(prev_t, refresh_time(k)))
            if lines != want_lines:
                errors.append(f"refresh {k}: delta has {lines} lines, duckdb feed has {want_lines}")
            check(errors)
            checks_s[0] += time.perf_counter() - t_checks
            rec = {
                "k": k,
                "wall_s": out.wall_s,
                "traced": tracer.enabled,
                "landing_rows": len(records),
                "batch_triples": stats["opened"] + stats["extended"],
                "quarantined": out.quarantined,
                "melt_build_ms": out.melt_build_ms,
                "store_build_ms": out.store_build_ms,
                "melt_rows": out.melt_rows,
                "landing": landing_summary,
            }
            if tracer.enabled:
                good_rows, docs_rows = out.good.count(), out.docs.count()
                tracer.resolve()
                rec["layers"] = _layer_counts(
                    rec, tracer.spans, landing_bytes, stats_before, stats, good_rows, docs_rows, lines, line_bytes
                )
            spark.catalog.clearCache()
            return rec

        def read_pass(k: int, ops, tracer, record: bool = True, tag: str = "") -> None:
            """Reads against the store as committed by refresh ``k``."""
            qi = lake.query_interface()
            for i, op in enumerate(ops):
                a = read_args(op, cat, k, read_rng)
                with tracer.span(f"api.{op}", f"read-{k}-{tag}{i}") as sp:
                    rows = run_read(qi, op, a)
                t_checks = time.perf_counter()
                check(read_failures(op, a, rows, oracle))
                checks_s[0] += time.perf_counter() - t_checks
                if record:
                    reads.append({"op": op, "ms": sp.wall_s * 1000.0, "rows": len(rows), "traced": tracer.enabled, "span": sp})

        # ---- set-up: session start (above), the full-catalog first load
        # and a read warm-up
        refresh(0, cat.full_landing(), NO_TRACE, len(cat.models))
        # One untimed (but checked) read of each op: the first call of each
        # read path compiles its code, and a measured pass right after the
        # first refresh read 2x slower in some runs than in others.
        read_pass(0, READ_OPS, NO_TRACE, record=False)
        setup_s = time.perf_counter() - t_process

        # ---- measured refresh cycles. With --trace 1 every second cycle is
        # traced and there are at least three (untraced, traced, untraced),
        # so the untraced ones bracket the warm-up trend across the traced one.
        run_tracer = Tracer(sc, enabled=bool(args.trace))
        t_measure = time.perf_counter()
        k = 0
        while True:
            k += 1
            tracer = run_tracer if args.trace and k % 2 == 0 else NO_TRACE
            read_pass(k - 1, READ_BEFORE, tracer, tag="pre")
            records, summary = cat.refresh_landing(wl.reextract, wl.changed, wl.new)
            refreshes.append(refresh(k, records, tracer, len(cat.models), summary))
            read_pass(k, READ_AFTER, tracer)
            tracer.resolve()
            done = time.perf_counter() - t_measure >= args.seconds
            if done and (not args.trace or k >= 3):
                break

        rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid(spark))
        jvm_cpu = _proc_cpu_s(jvm_pid(spark))
        gc_s, jit_s = jvm_gc_jit_s(spark)
        store_bytes, current = lake.store_bytes(), oracle.current_triples()
        oracle.close()
        context = {
            "nproc": nproc(),
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master,
            "models": n_models,
            "spark_start_s": spark_start_s,
            "refreshes": len(refreshes),
            "refresh_walls_s": [round(r["wall_s"], 3) for r in refreshes],
            "read_ms": [round(r["ms"], 1) for r in reads],
            "reads": len(reads),
            "measured_s": time.perf_counter() - t_measure,
            "checks_s": checks_s[0],
            "jvm_utime_s": jvm_cpu[0],
            "jvm_stime_s": jvm_cpu[1],
            "jvm_gc_s": gc_s,
            "jvm_jit_s": jit_s,
        }
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            spans_path = os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-seed{args.seed}.json")
            run_tracer.dump(spans_path, {"workload": args.workload, "seed": args.seed, "refreshes": refreshes})
            context["spans"] = os.path.relpath(spans_path, ROOT)
            metrics = per_layer(refreshes, reads)
        else:
            metrics = end_to_end(setup_s, refreshes, reads, store_bytes, current, rss_kb, attempted, failed)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures[:20]:
        print("CHECK FAILED:", f, file=sys.stderr)
    return metrics, context, attempted, failed


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        import mlentory_etl_pipeline_spark.api  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    load_start, ticks_start, cpu_start = os.getloadavg(), _cpu_ticks(), os.times()
    metrics, context, attempted, failed = run(args, t_process)
    ticks_end, cpu_end = _cpu_ticks(), os.times()
    steal = None
    if ticks_start and ticks_end and len(ticks_end) > 7:
        d = [b - a for a, b in zip(ticks_start, ticks_end)]
        steal = 100.0 * d[7] / max(1, sum(d))
    sha = _git("rev-parse", "HEAD")
    context.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "git_sha": sha,
            "git_dirty": bool(_git("status", "--porcelain", "--untracked-files=no")) if sha else None,
            "source_digest": _source_digest(),
            "loadavg_start": load_start[0],
            "loadavg_end": os.getloadavg()[0],
            "steal_pct": steal,
            "bench_utime_s": cpu_end.user - cpu_start.user,
            "bench_stime_s": cpu_end.system - cpu_start.system,
        }
    )
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
