#!/usr/bin/env python3
"""geogeometry_spark benchmark: seeded Spark workloads, end-to-end and
per-layer metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --smoke

One run = one workload in a fresh process on ``local[nproc]``.  Set-up
(session start, seeded input generation written to parquet, the cold
warm-up iterations) is timed as ``setup_s``, not as iterations.  The
outputs are then checked against the operators' DuckDB twins, outside
any timer.  Then a single client runs iterations in a closed loop for
``--seconds`` (at least the workload's minimum number of iterations),
each one checked against the verified output's fingerprint.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
untraced loop for half the time, restarts the session with Spark's
event log on, repeats the loop with a job group around every call into
a layer, and prints the per-layer metrics folded from the event log
and from ``/proc``.  The last stdout line is the JSON result.
``--smoke`` runs every workload once at tiny sizes, traced and
untraced, and checks every metric name and unit against
``BENCHMARK.json``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

SETUP_REPS = 3
PREFIX_ROUNDS = 2

END_TO_END = {
    "rows_per_s": "rows/s",
    "wall_s": "s",
    "cpu_s": "CPU-s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_JOINS = ("wall_s", "cpu_s", "py_cpu_s", "idle_core_frac", "jobs",
          "shuffle_bytes", "rows_out")
PER_LAYER = {
    "sources": ("wall_s", "cpu_s", "bytes_read"),
    "extract": ("wall_s", "cpu_s", "coords_out", "coords_per_text_span"),
    "encode": ("wall_s", "cpu_s"),
    "covering": ("wall_s", "cells", "border_cell_frac"),
    "pip_join": ("wall_s", "cpu_s", "py_cpu_s", "candidates",
                 "border_candidates", "matches_per_candidate"),
    "tiling": ("wall_s", "cpu_s", "rows_out"),
    "knn": _JOINS,
    "s2_join": _JOINS,
    "hex_join": _JOINS,
    "hotspot": ("wall_s", "cpu_s", "jobs", "stages", "shuffle_bytes",
                "s_per_job", "idle_core_frac"),
    "cluster": ("wall_s", "cpu_s", "jobs", "shuffle_bytes",
                "task_tail_ratio", "idle_core_frac"),
    "routing": ("wall_s", "cpu_s", "jobs", "s_per_job", "shuffle_bytes",
                "idle_core_frac"),
    "spark": ("tasks", "executor_cpu_s", "gc_s", "spill_bytes",
              "peak_exec_mem_bytes"),
    "trace": ("overhead_s",),
}
_UNITS = {
    "wall_s": "s", "overhead_s": "s", "s_per_job": "s",
    "cpu_s": "CPU-s", "py_cpu_s": "CPU-s", "executor_cpu_s": "CPU-s",
    "gc_s": "s",
    "bytes_read": "bytes", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "peak_exec_mem_bytes": "bytes",
    "coords_per_text_span": "ratio", "border_cell_frac": "ratio",
    "matches_per_candidate": "ratio", "idle_core_frac": "ratio",
    "task_tail_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    return {
        f"{layer}.{m}": _UNITS.get(m, "count")
        for layer, ms in PER_LAYER.items()
        for m in ms
    }


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s]: {msg}",
          file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# session lifetime
# --------------------------------------------------------------------------

class Harness:
    """Owns the Spark session, the run's scratch directory and spans."""

    def __init__(self, workdir: str, run_id: str):
        self.workdir, self.run_id = workdir, run_id
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid = None
        self.event_dir = os.path.join(workdir, "eventlog")
        self.spans: list[dict] = []

    def start(self, event_log: bool = False):
        from geogeometry_spark.plans.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            # a fixed heap: no heap growth and resizing during the loop
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}",
            "spark.executorEnv.PYTHONPATH": REPO,
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.run_id}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            from perfbench import procstat

            self.jvm_pid = procstat.find_jvm_pid()
        return self.spark

    def stop(self) -> str | None:
        """Stop the session; returns its event log path, if any."""
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        path = None
        if sc.getConf().get("spark.eventLog.enabled", "false") == "true":
            path = os.path.join(self.event_dir, sc.applicationId)
        self.spark.stop()
        self.spark = None
        return path

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to end."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def cpu(self):
        from perfbench import procstat

        return procstat.sample(self.jvm_pid)


def fingerprint(df) -> tuple[int, int, int]:
    """Order-independent (rows, sum of low hash words, xor of hashes)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))),
        F.bit_xor(F.col("h")),
    ).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


# --------------------------------------------------------------------------
# phases of a run
# --------------------------------------------------------------------------

def setup(h: Harness, wl_cls, seed: int, sizes: dict, reps: int):
    """Generate inputs ``reps`` times (median billed), then load and run
    the untimed warm-up iterations; the first one's outputs are kept for
    verification.  Returns (workload, seconds, reference fingerprints,
    those outputs)."""
    wl = wl_cls(h.spark, h.workdir, seed, sizes[wl_cls.name], h.cores)
    gen = []
    for _ in range(reps):
        t = time.perf_counter()
        wl.generate()
        gen.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.load(h.spark)
    outputs, ref = {}, {}
    for step in wl.steps():
        # checkpointed so the verification reads this execution's rows
        outputs[step.name] = step.run().localCheckpoint()
        ref[step.name] = fingerprint(outputs[step.name])
    for _ in range(wl.warmup_iterations - 1):
        run_iteration(h, wl, ref)
    warm = time.perf_counter() - t
    log(f"input generation {', '.join(f'{g:.2f}' for g in gen)} s; "
        f"load and warm-up {warm:.2f} s")
    return wl, median(gen) + warm, ref, outputs


def verify(wl, outputs: dict) -> list[str]:
    """Compare every step's output with its DuckDB twin (value hash of
    the canonical rows, as tools/check_correctness.py computes it)."""
    import duckdb

    from tools.check_correctness import value_hash

    problems = []
    con = duckdb.connect()
    try:
        for view, path in wl.duckdb_views().items():
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet')"
            )
        for name, oracle in wl.oracles().items():
            got = oracle.check(outputs[name])
            rows = [tuple(r) for r in got.collect()]
            cur = con.execute(oracle.sql)
            cols = [d[0] for d in cur.description]
            want = cur.fetchall()
            if sorted(cols) != sorted(got.columns):
                problems.append(f"{name}: columns {got.columns} != {cols}")
                continue
            if len(rows) != len(want):
                problems.append(f"{name}: {len(rows)} rows != {len(want)}")
            elif value_hash(got.columns, rows) != value_hash(cols, want):
                problems.append(f"{name}: value hash differs from the twin")
            else:
                continue
            problems.extend(_row_diff(name, got.columns, rows, cols, want))
    finally:
        con.close()
    if hasattr(wl, "span_mismatches"):
        bad = wl.span_mismatches(outputs["flagship"])
        if bad:
            problems.append(f"flagship: {bad} rows lost their span sequence")
    return problems


def _row_diff(name, got_cols, got, want_cols, want, limit=5) -> list[str]:
    """A few rows only one side has, canonicalized as value_hash does."""
    from collections import Counter

    from tools.check_correctness import _canon

    def lines(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return Counter(
            ", ".join(f"{cols[i]}={_canon(r[i])}" for i in order) for r in rows
        )

    g, w = lines(got_cols, got), lines(want_cols, want)
    return [
        f"{name}: only in {side}: {line}"
        for side, extra in (("Spark", g - w), ("the twin", w - g))
        for line in sorted(extra)[:limit]
    ]


def run_iteration(h: Harness, wl, ref: dict, group: str | None = None,
                  spans: list | None = None) -> bool:
    """One closed-loop iteration; True when every step's output matches
    the verified reference.  With ``group``, every step runs under its
    own job group and is recorded as a span."""
    ok = True
    sc = h.spark.sparkContext
    for step in wl.steps():
        span_id = f"{group}:{step.name}" if group else None
        if span_id:
            sc.setJobGroup(span_id, f"{wl.name}.{step.layer}.{step.name}")
            c0, t0 = h.cpu(), time.time()
        fp = fingerprint(step.run())
        if span_id:
            t1, c1 = time.time(), h.cpu()
            spans.append(_span(h, span_id, step.name, step.layer, group,
                               t0, t1, c1.minus(c0), rows=fp[0]))
        if fp != ref[step.name]:
            log(f"{step.name}: output fingerprint {fp} != {ref[step.name]}")
            ok = False
    if group:
        sc.setJobGroup("", "")
    return ok


def _span(h, span_id, name, layer, parent, t0, t1, cpu, **extra) -> dict:
    return {
        "id": span_id, "name": name, "layer": layer, "parent": parent,
        "run_id": h.run_id, "start": t0, "end": t1, "wall_s": t1 - t0,
        "cpu_s": cpu.total, "jvm_cpu_s": cpu.jvm, "py_cpu_s": cpu.workers,
        **extra,
    }


def measure(h: Harness, wl, ref: dict, seconds: float, min_iters: int,
            group: str | None = None):
    """Closed loop for ``seconds`` (and at least ``min_iters``
    iterations): returns (walls, cpus, attempted, failed)."""
    walls, cpus, failed = [], [], 0
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < seconds or i < min_iters:
        c0, t0 = h.cpu(), time.perf_counter()
        try:
            ok = run_iteration(
                h, wl, ref,
                group=f"{group}{i}" if group else None, spans=h.spans,
            )
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        walls.append(time.perf_counter() - t0)
        cpus.append(h.cpu().minus(c0).total)
        failed += not ok
        i += 1
    return walls, cpus, i, failed


# --------------------------------------------------------------------------
# traced run: per-layer metrics
# --------------------------------------------------------------------------

def traced_extras(h: Harness, wl, rounds: int) -> dict:
    """Prefix spans (``rounds`` of each, into a noop sink) and, for the
    flagship, the direct covering call and exact counts, which are
    taken outside every timer."""
    sc = h.spark.sparkContext
    for r in range(rounds):
        for layer, fn in wl.prefixes():
            span_id = f"p{r}:{layer}"
            sc.setJobGroup(span_id, f"{wl.name}.prefix.{layer}")
            c0, t0 = h.cpu(), time.time()
            fn().write.format("noop").mode("overwrite").save()
            t1, c1 = time.time(), h.cpu()
            h.spans.append(_span(h, span_id, f"prefix.{layer}", layer,
                                 f"p{r}", t0, t1, c1.minus(c0)))
    sc.setJobGroup("", "")
    if wl.name != "flagship":
        return {}
    from pyspark.sql import functions as F

    from geogeometry_spark.fixtures import polygons_np
    from geogeometry_spark.functions.columns import cell_prefix
    from geogeometry_spark.kernels import covering
    from geogeometry_spark.operators.pip_join import build_cell_relation
    from perfbench.workloads import FLAGSHIP_MAX_LENGTH

    sc.setJobGroup("counts", "flagship.exact_counts")
    polys = polygons_np(None)
    cover_walls = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        for rings in polys.values():
            covering.cover_with_borders(rings, max_length=FLAGSHIP_MAX_LENGTH)
        cover_walls.append(time.perf_counter() - t0)
    rows, cell_len = build_cell_relation(polys, max_length=FLAGSHIP_MAX_LENGTH)
    prefixes = dict(wl.prefixes())
    cells = h.spark.createDataFrame(
        rows, "polygon_id string, cell_key long, is_border boolean"
    )
    cand = prefixes["encode"]().join(
        F.broadcast(cells),
        cell_prefix(F.col("cell_id"), cell_len) == F.col("cell_key"),
    )
    text_spans = wl.docs.select(F.explode("spans").alias("s")).where(
        F.col("s.kind") == "text"
    ).count()
    coords = prefixes["extract"]().count()
    n_cand = cand.count()
    out = {
        "covering.wall_s": median(cover_walls),
        "covering.cells": len(rows),
        "covering.border_cell_frac": sum(b for _, _, b in rows) / len(rows),
        "extract.coords_out": coords,
        "extract.coords_per_text_span": coords / text_spans,
        "pip_join.candidates": n_cand,
        "pip_join.border_candidates": cand.where(F.col("is_border")).count(),
        "pip_join.matches_per_candidate":
            prefixes["pip_join"]().count() / n_cand,
    }
    sc.setJobGroup("", "")
    return out


def layer_metrics(h: Harness, wl, spans: list[dict], groups: dict,
                  extras: dict, overhead_s: float) -> dict[str, float]:
    """Per-layer metrics; layers the workload does not run read 0."""
    from perfbench.eventlog import GroupStats, merge

    names = per_layer_units()
    out = {name: 0.0 for name in names}
    out["trace.overhead_s"] = overhead_s
    out.update(extras)

    def stats(span_ids):
        return merge([groups.get(s, GroupStats()) for s in span_ids])

    iters: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"].startswith("i"):
            iters.setdefault(s["parent"], []).append(s)

    # exact counts must repeat across iterations
    per_step: dict[str, set] = {}
    for members in iters.values():
        for s in members:
            g = groups.get(s["id"], GroupStats())
            per_step.setdefault(s["name"], set()).add(
                (g.jobs, g.stages, g.tasks, g.shuffle_bytes, s["rows"])
            )
    for name, seen in per_step.items():
        if len(seen) > 1:
            log(f"error: exact counts of {name} differ across iterations "
                f"(jobs, stages, tasks, shuffle bytes, rows): {sorted(seen)}")

    engine = [stats(m["id"] for m in members) for members in iters.values()]
    out["spark.tasks"] = engine[0].tasks
    out["spark.executor_cpu_s"] = median([e.executor_cpu_s for e in engine])
    out["spark.gc_s"] = median([e.gc_s for e in engine])
    out["spark.spill_bytes"] = engine[0].spill_bytes
    out["spark.peak_exec_mem_bytes"] = max(
        e.peak_exec_mem_bytes for e in engine)

    # fused layers: differences of consecutive prefix medians
    prev = {"wall_s": 0.0, "cpu_s": 0.0, "py_cpu_s": 0.0}
    for layer, _ in wl.prefixes():
        mine = [s for s in spans if s["name"] == f"prefix.{layer}"]
        med = {k: median([s[k] for s in mine]) for k in prev}
        for k in prev:
            if f"{layer}.{k}" in names:
                out[f"{layer}.{k}"] = med[k] - prev[k]
        prev = med
        if f"{layer}.bytes_read" in names:
            out[f"{layer}.bytes_read"] = stats([mine[0]["id"]]).bytes_read

    # layers called one by one: sums over each layer's calls per
    # iteration, medians across iterations
    for layer in sorted({s["layer"] for s in spans} & set(PER_LAYER)):
        rows = []
        for members in iters.values():
            mine = [s for s in members if s["layer"] == layer]
            if not mine:
                continue
            rows.append({
                "wall_s": sum(s["wall_s"] for s in mine),
                "cpu_s": sum(s["cpu_s"] for s in mine),
                "py_cpu_s": sum(s["py_cpu_s"] for s in mine),
                "rows_out": sum(s["rows"] for s in mine),
                "g": stats(s["id"] for s in mine),
            })
        if not rows:
            continue
        wall = median([r["wall_s"] for r in rows])
        cpu = median([r["cpu_s"] for r in rows])
        g = rows[0]["g"]
        values = {
            "wall_s": wall,
            "cpu_s": cpu,
            "py_cpu_s": median([r["py_cpu_s"] for r in rows]),
            "idle_core_frac": 1.0 - cpu / (wall * h.cores),
            "jobs": g.jobs,
            "stages": g.stages,
            "shuffle_bytes": g.shuffle_bytes,
            "rows_out": rows[0]["rows_out"],
            "s_per_job": wall / g.jobs if g.jobs else 0.0,
            "task_tail_ratio": median([r["g"].task_tail_ratio() for r in rows]),
        }
        for m in PER_LAYER[layer]:
            out[f"{layer}.{m}"] = values[m]
    if wl.name == "flagship":
        out["tiling.rows_out"] = iters["i0"][0]["rows"]
    return out


def write_spans(h: Harness, wl_name: str, seed: int) -> None:
    out_dir = os.path.join(REPO, ".perfbench_trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl_name}-seed{seed}-{h.run_id}.json")
    with open(path, "w") as f:
        json.dump(h.spans, f, indent=1)
    log(f"spans written to {os.path.relpath(path, REPO)}")


# --------------------------------------------------------------------------
# entry points
# --------------------------------------------------------------------------

def run_one(h: Harness, wl_cls, seed: int, seconds: float, trace: bool,
            sizes: dict, reps: int, prefix_rounds: int, smoke: bool = False):
    """One workload from session start to metrics.  Returns (metrics,
    attempted, failed, correct)."""
    from perfbench import eventlog, procstat

    t0 = time.perf_counter()
    h.start()
    session_s = time.perf_counter() - t0
    wl, setup_rest, ref, outputs = setup(h, wl_cls, seed, sizes, reps)
    setup_s = session_s + setup_rest
    log(f"setup {setup_s:.2f} s (session {session_s:.2f} s)")
    t1 = time.perf_counter()
    problems = verify(wl, outputs)
    log(f"verification {time.perf_counter() - t1:.2f} s")
    for p in problems:
        log(f"verification failed: {p}")
    # a traced run spends half its time untraced, for trace.overhead_s
    walls, cpus, attempted, failed = measure(
        h, wl, ref, seconds / 2 if trace else seconds,
        1 if trace or smoke else wl.min_iterations)
    if problems:
        failed = attempted
    wall = median(walls)
    log(f"{wl.name} seed={seed}: {attempted} iterations, wall median "
        f"{wall:.4f} s ({', '.join(f'{w:.3f}' for w in walls)}), cpu "
        f"median {median(cpus):.4f} CPU-s, setup {setup_s:.4f} s, "
        f"error_rate {failed}/{attempted}")
    if not trace:
        metrics = {
            "rows_per_s": wl.rows / wall,
            "wall_s": wall,
            "cpu_s": median(cpus),
            "setup_s": setup_s,
            "peak_rss_mb": procstat.peak_rss_mb(),
        }
        return metrics, attempted, failed, not problems and failed == 0

    h.stop()
    h.start(event_log=True)
    wl.load(h.spark)
    h.spans = []
    # two traced iterations at least, to check that counts repeat
    t_walls, _, t_att, t_failed = measure(h, wl, ref, seconds,
                                          1 if smoke else 2, group="i")
    extras = traced_extras(h, wl, prefix_rounds)
    log_path = h.stop()
    groups = eventlog.fold(log_path)
    metrics = layer_metrics(h, wl, h.spans, groups, extras,
                            median(t_walls) - wall)
    write_spans(h, wl.name, seed)
    attempted += t_att
    failed += t_att if problems else t_failed
    return metrics, attempted, failed, not problems and failed == 0


def smoke(h: Harness) -> int:
    """Every workload once at tiny sizes, untraced and traced: outputs
    must verify and every metric must be printed with its unit."""
    from perfbench.workloads import SMOKE, WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    bad = []
    if want_e2e != END_TO_END:
        bad.append(f"end_to_end names/units differ: {want_e2e} vs {END_TO_END}")
    if want_layer != per_layer_units():
        bad.append("per_layer names/units differ from BENCHMARK.json")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        bad.append("workload names differ from BENCHMARK.json")
    for trace in (False, True):
        for name, cls in WORKLOADS.items():
            metrics, _, failed, correct = run_one(
                h, cls, 1, 0.0, trace, SMOKE, reps=1, prefix_rounds=1,
                smoke=True)
            h.stop()
            want = want_layer if trace else want_e2e
            if set(metrics) != set(want):
                bad.append(f"{name} trace={trace}: metric names differ")
            if not correct or failed:
                bad.append(f"{name} trace={trace}: outputs did not verify")
            print(f"{name} trace={int(trace)}: " + json.dumps(
                {k: {"value": v, "unit": want.get(k)}
                 for k, v in sorted(metrics.items())}), flush=True)
    for b in bad:
        log(f"smoke: {b}")
    print(json.dumps({"smoke": "ok" if not bad else "failed",
                      "problems": bad}))
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "geogeometry_spark")):
        log(f"no geogeometry_spark package next to {HERE}; run from a "
            "checkout of the repository")
        return 2
    sys.path[:0] = [REPO]
    from perfbench.workloads import FULL, WORKLOADS

    if not args.smoke and args.workload not in WORKLOADS:
        log(f"--workload must be one of {sorted(WORKLOADS)}")
        return 2

    run_id = f"{os.getpid()}-{int(time.time())}"
    workdir = os.path.join(REPO, ".perfbench_work", run_id)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    # python workers import the package from this checkout, whatever
    # the cwd; scratch files of every process stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    h = Harness(workdir, run_id)
    try:
        if args.smoke:
            return smoke(h)
        # a traced run reports no setup_s, so it generates its inputs once
        metrics, attempted, failed, correct = run_one(
            h, WORKLOADS[args.workload], args.seed, args.seconds,
            bool(args.trace), FULL, 1 if args.trace else SETUP_REPS,
            PREFIX_ROUNDS)
        units = per_layer_units() if args.trace else END_TO_END
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        }))
        return 0
    finally:
        try:
            h.shutdown()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            log("done")


if __name__ == "__main__":
    sys.exit(main())
