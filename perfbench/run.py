#!/usr/bin/env python3
"""spark-kg benchmark: runs one workload in this (fresh) process.

    python3 perfbench/run.py --workload kg_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/inputs``), a local Spark session with
one core per CPU is set up several times, and the workload's operation
is repeated until its timed ops add up to ``--seconds`` and number at
least MIN_OPS. Every op's output is checked after the timed window.

The last stdout line is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the staged, traced operation and
one untraced op for reference, and reports the per-layer metrics (see
README.md).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "bio_re_with_entity_embeddings_spark"

N_SETUP = 3
# op times still fall over the first ops after the warm-up (JIT): every
# run times at least this many, so runs compare the same op positions
MIN_OPS = 2
MAX_OPS = 40
# stop starting ops after this much run time, so a run ends within 180 s
DEADLINE_S = 120
# the traced run skips its off-path probes once this much time has passed
PROBE_DEADLINE_S = 90

LAYERS = [
    "ingest", "mentions", "pairs", "support", "scoring", "triples",
    "canonicalize", "curation.signals", "dedup.exact", "dedup.minhash",
    "dedup.keepers", "curation.decontaminate", "curation.quota",
    "manifest.write", "manifest.resume", "manifest.lineage",
]
LAYER_FIELDS = {
    "wall_s": "s", "cpu_s": "s", "jobs": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "records_out": "rows",
}


def _meminfo_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _nproc():
    return len(os.sched_getaffinity(0))


def _source_sha():
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit():
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def header(args):
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": _commit(),
        "source_sha256_16": _source_sha(),
        "nproc": _nproc(),
        "mem_total_mb": _meminfo_mb(),
        "loadavg": [float(x) for x in load],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "driver_memory_mb": driver_memory_mb(),
    }


def driver_memory_mb():
    # an eighth of the box, at most 2 GB: the library default (16g) is
    # more than small boxes have
    return max(1024, min(2048, _meminfo_mb() // 8))


def start_session(trace):
    from bio_re_with_entity_embeddings_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        # a fixed, pre-touched heap: the JVM's share of peak_rss_mb is then
        # the same on every run instead of following GC heap resizing,
        # and the rest (off-heap, Python workers) is what the program moves
        "spark.driver.extraJavaOptions": f"-Xms{driver_memory_mb()}m -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app_name="perfbench", master=f"local[{_nproc()}]", extra_conf=conf)


def shutdown(spark):
    """Stop Spark, end the gateway JVM and wait for every process this
    run started (JVM, Python worker daemon and workers)."""
    import procs
    from pyspark import SparkContext

    kids = procs.descendants()
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)
    if not procs.wait_gone(kids, timeout=30):
        for p in procs.descendants():
            try:
                os.kill(p, 9)
            except OSError:
                pass
        procs.wait_gone(kids, timeout=10)


def between_ops(spark):
    # release the previous op's checkpoints/broadcasts before timing the
    # next one, so every op starts from a similar heap
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def setup(wl, trace, out_dir):
    """Session start + package ship + input load, N_SETUP times (the
    first launches the JVM, later ones stop the session and start a new
    one in the same JVM), then one untimed run of the workload's
    operation, which pays JIT compilation (at full input size, so the
    timed ops find the hot code compiled) and Python worker start.
    Returns the session, the set-up seconds and the warm-up op's
    seconds."""
    from bio_re_with_entity_embeddings_spark.deploy import ensure_shipped

    spark, times = None, []
    for _ in range(1 if trace else N_SETUP):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(trace)
        ensure_shipped(spark)
        wl.load(spark)
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.op(spark, out_dir)
    warm = time.perf_counter() - t0
    print("set-ups: " + ", ".join(f"{t:.2f}" for t in times) + f" s; warm-up op {warm:.2f} s",
          file=sys.stderr)
    return spark, times, warm


def run_checks(wl, results):
    failed = 0
    for r in results:
        errs = [r["error"]] if "error" in r else list(r.get("probe_errors", ()))
        if "error" not in r:
            try:
                errs += wl.check(r)
            except Exception:
                errs = ["check raised: " + traceback.format_exc(limit=3)]
        r["errors"] = errs
        if errs:
            failed += 1
            print(f"op {r.get('op')}: FAILED: {'; '.join(errs)}", file=sys.stderr)
    return failed


def timed_ops(wl, spark, seconds, t_start):
    import procs

    results, measured = [], 0.0
    with procs.PeakRss() as rss:
        while len(results) < MAX_OPS and (len(results) < MIN_OPS or measured < seconds):
            if results and time.perf_counter() - t_start > DEADLINE_S:
                break
            between_ops(spark)
            d = os.path.join(WORK, "out", wl.name, f"op{len(results)}")
            u0, k0, _ = procs.sample()
            t0 = time.perf_counter()
            try:
                r = wl.op(spark, d)
            except Exception:
                r = {"error": "op raised: " + traceback.format_exc(limit=5)}
            op_s = time.perf_counter() - t0
            u1, k1, _ = procs.sample()
            r.update(op=len(results), op_s=op_s, cpu_s=(u1 + k1) - (u0 + k0))
            print(f"op {len(results)}: {op_s:.2f} s", file=sys.stderr)
            results.append(r)
            measured += op_s
    print(f"processes at peak RSS (MB): {rss.at_peak}", file=sys.stderr)
    return results, rss.peak


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, results, peak, setups, warm):
    ok = [r for r in results if "wall_s" in r]
    wall = _median([r["wall_s"] for r in ok])
    n = len(results)
    failed = sum(1 for r in results if r["errors"])
    m = {
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.n_docs / wall if wall else 0.0, "docs/s"),
        "cpu_s": (_median([r["cpu_s"] for r in ok]), "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "setup_s": (_median(setups) + warm, "s"),
        "ok_frac": ((n - failed) / n if n else 0.0, "ratio"),
    }
    notes = {
        "wall_s": f"median of {len(ok)} ops (too few for a tail percentile)",
        "docs_per_s": f"{wl.n_docs} docs / median wall_s",
        "cpu_s": f"median of {len(ok)} ops, process tree user+sys",
        "peak_rss_mb": "max over the timed ops, process tree",
        "setup_s": f"median of {len(setups)} session set-ups + 1 warm-up op",
        "ok_frac": f"{n - failed} of {n} ops correct",
    }
    return m, notes


def traced(wl, spark, seconds, t_start, run_id):
    import staged
    import tracer

    tr = tracer.Tracer(spark, run_id)
    labels = {}
    results = []
    per_op, staged_tot, extras, measured = [], [], [], 0.0
    while not per_op or (measured < seconds and time.perf_counter() - t_start < DEADLINE_S):
        i = len(per_op)
        between_ops(spark)
        d = os.path.join(WORK, "out", wl.name, f"staged{i}")
        t0 = time.perf_counter()
        tr.start_op(i)
        try:
            r = staged.STAGED[wl.name](wl, spark, tr, d, labels, t_start + PROBE_DEADLINE_S)
            vals, tot, extra = staged.layer_values(tr, i)
        except Exception:
            tr.end_op()
            r = {"error": "staged op raised: " + traceback.format_exc(limit=5)}
            vals, tot, extra = {}, 0.0, {}
        r.update(op=f"staged{i}", op_s=time.perf_counter() - t0)
        results.append(r)
        per_op.append(vals)
        staged_tot.append(tot)
        extras.append(extra)
        measured += r["op_s"]
    # fused reference: the untraced op, in the same (UI-on) session
    between_ops(spark)
    t0 = time.perf_counter()
    try:
        r = wl.op(spark, os.path.join(WORK, "out", wl.name, "fused"))
    except Exception:
        r = {"error": "op raised: " + traceback.format_exc(limit=5)}
    r.update(op="fused", op_s=time.perf_counter() - t0)
    results.append(r)
    fused = r["op_s"]
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    tr.dump(os.path.join(WORK, "trace", f"{run_id}.json"), labels)
    return results, per_op, staged_tot, extras, fused, labels


def per_layer(wl, per_op, staged_tot, extras, fused):
    m = {}
    for layer in LAYERS:
        for field, unit in LAYER_FIELDS.items():
            m[f"{layer}.{field}"] = (_median([v.get(layer, {}).get(field, 0) for v in per_op]), unit)

    def med(fn):
        return _median([fn(v, e) for v, e in zip(per_op, extras)])

    def get(v, layer, field):
        return v.get(layer, {}).get(field, 0)

    def ratio(a, b):
        return a / b if b else 0.0

    sum_k2 = wl.meta.get("sum_k2", 0)
    m["mentions.hit_docs_frac"] = (med(lambda v, e: ratio(e.get("hit_docs", 0), wl.n_docs)), "ratio")
    m["mentions.sys_frac"] = (med(lambda v, e: ratio(
        get(v, "mentions", "sys_s"), get(v, "mentions", "sys_s") + get(v, "mentions", "user_s"))), "ratio")
    m["pairs.kept_frac"] = (med(lambda v, e: ratio(get(v, "pairs", "records_out"), sum_k2)), "ratio")
    m["support.combine_frac"] = (med(lambda v, e: ratio(
        get(v, "support", "shuffle_write_records"), get(v, "pairs", "records_out"))), "ratio")
    m["curation.survivor_frac"] = (med(lambda v, e: ratio(
        get(v, "curation.quota", "records_out"), wl.n_docs)), "ratio")
    m["manifest.resume.rewritten_buckets"] = (med(lambda v, e: e.get("rewritten_buckets", 0)), "count")
    staged = _median(staged_tot)
    m["trace.staged_total_s"] = (staged, "s")
    m["trace.fused_wall_s"] = (fused, "s")
    m["trace.overhead_s"] = (staged - fused, "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files in the work
    # dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    import workloads  # imports the library: fails here when it is absent

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload](args.workload)
    _, meta, gen_s = wl.generate(WORK, args.seed)
    hdr = header(args)
    hdr["input"] = {k: v for k, v in meta.items() if k not in ("entity_ids", "expected_survivors")}
    hdr["input_gen_s"] = gen_s
    print(json.dumps({"header": hdr}), flush=True)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    spark = None
    try:
        spark, setups, warm = setup(wl, args.trace, os.path.join(WORK, "out", wl.name, "warm"))
        if args.trace:
            results, per_op, staged_tot, extras, fused, labels = traced(
                wl, spark, args.seconds, t_start, run_id)
            peak = 0
        else:
            results, peak = timed_ops(wl, spark, args.seconds, t_start)
    finally:
        shutdown(spark)
    t_chk = time.perf_counter()
    failed = run_checks(wl, results)
    print(f"checks {time.perf_counter() - t_chk:.2f} s, run {time.perf_counter() - t_start:.2f} s",
          file=sys.stderr)

    if args.trace:
        metrics = per_layer(wl, per_op, staged_tot, extras, fused)
        print(f"detector kernel: {labels.get('detector')}  "
              f"(staged ops: {len(per_op)}; layer values are medians over them)")
        for k, (v, unit) in metrics.items():
            if v:
                print(f"  {k:40s} {v:14.4f} {unit}")
    else:
        metrics, notes = end_to_end(wl, results, peak, setups, warm)
        for k, (v, unit) in metrics.items():
            print(f"  {k:12s} {v:14.4f} {unit:7s} {notes[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
