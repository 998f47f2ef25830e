"""Traced (staged) versions of each workload's operation.

Same inputs, same library calls and the same output check as the timed
operation, but with the public library functions wrapped by the tracer
(see ``tracer.py``), so each layer is materialized in a span of its own.

kg_scan's traced run also runs probes beside the result path, on the
same generated input: the pair explosion alone, canonicalization of the
result (``canonical_map`` + ``canonicalize_triples``) and the
checkpointed runner (build into a fresh dir, no-change rerun,
``verify_lineage``) over a slice of the corpus. Their spans are
reported per layer but kept out of the staged total. A probe that
would start after the run's probe deadline is skipped (its layers then
read 0, and the skip is printed), so a slow box still ends in time.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sys
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bio_re_with_entity_embeddings_spark.operators import canonicalize as canon
from bio_re_with_entity_embeddings_spark.operators import curation as CUR
from bio_re_with_entity_embeddings_spark.operators import dedup as DD
from bio_re_with_entity_embeddings_spark.operators import mentions as MEN
from bio_re_with_entity_embeddings_spark.operators import scoring as SCO
from bio_re_with_entity_embeddings_spark.plans import curation as PC
from bio_re_with_entity_embeddings_spark.plans import pipeline as P
from bio_re_with_entity_embeddings_spark.plans import runner as R

import tracer as T
import workloads as W

OFF_PATH = {"pairs", "canonicalize", "manifest.write", "manifest.resume", "manifest.lineage"}
RUNNER_DOCS = 200  # corpus slice for the checkpointed-runner probe
RUNNER_BUCKETS = 8


def _files(path):
    return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]


def _rows(path):
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _files(path))


@contextlib.contextmanager
def _label(module, name, labels):
    """Record the physical kernel of the detector's (unmaterialized)
    plan; entered before the tracer's wrapper so it sees the raw plan."""
    orig = getattr(module, name)

    def labelled(*a, **kw):
        res = orig(*a, **kw)
        if "detector" not in labels:
            labels["detector"] = T.kernel_label(res)
        return res

    setattr(module, name, labelled)
    try:
        yield
    finally:
        setattr(module, name, orig)


def _snapshot(base):
    out = {}
    for p in glob.glob(os.path.join(base, "*", "data", "**", "*"), recursive=True):
        if os.path.isfile(p):
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _manifest_rows(base, run_id):
    """Manifest rows (one per bucket a run wrote) stamped with ``run_id``."""
    n = 0
    for f in glob.glob(os.path.join(base, "*", "_manifest", "*.parquet")):
        ids = pq.read_table(f, columns=["run_id"]).column("run_id")
        n += int(pc.sum(pc.equal(ids, run_id)).as_py() or 0)
    return n


def _due(deadline, probe):
    if time.perf_counter() < deadline:
        return True
    print(f"probe {probe} skipped: past the probe deadline", file=sys.stderr)
    return False


def kg_scale(wl, spark, tr, out_dir, labels, deadline):
    """kg_scan: build_triples on the scale path, then the probes."""
    with contextlib.ExitStack() as st:
        st.enter_context(_label(MEN, "detect_entity_arrays", labels))
        st.enter_context(tr.wrap(P, "ingest", "ingest", stay=False))
        st.enter_context(tr.wrap(MEN, "detect_entity_arrays", "mentions",
                                 meta=lambda res: {"hit_docs": res.count()}))
        st.enter_context(tr.wrap(SCO, "score_pairs", "scoring", input_layer="support"))
        out = wl.build(spark, wl.corpus)
        tr.switch("triples")
        wl.write(out, out_dir)
    tr.records["triples"] += _rows(out_dir)
    errs = []

    # probe: the pair explosion (explode + relation filter) alone
    tr.switch("pairs")
    tr.records["pairs"] += out["pairs"].count()

    if _due(deadline, "canonicalize"):
        errs += _canonicalize_probe(wl, spark, tr, out_dir)
    if _due(deadline, "runner"):
        errs += _runner_probe(wl, spark, tr, out_dir)
    tr.end_op()
    return {"out_dir": out_dir, "probe_errors": errs}


def _canonicalize_probe(wl, spark, tr, out_dir):
    """canonical_map + canonicalize_triples over the written result."""
    tr.switch("canonicalize")
    dict_df = spark.createDataFrame(
        [(e.surface, e.entity_id, e.entity_type) for e in wl.dictionary],
        "surface string, entity_id string, entity_type string",
    )
    canon_dir = out_dir + "_canonical"
    canon.canonicalize_triples(
        spark.read.parquet(out_dir).withColumn("articles", F.array().cast("array<string>")),
        canon.canonical_map(dict_df),
    ).select("subj", "pred", "obj", "score", "n_docs").write.mode("overwrite").parquet(canon_dir)
    tr.records["canonicalize"] += _rows(canon_dir)
    tr.switch(T.META)
    truth = W._kg_truth(wl.path, wl.meta, canonical=True)
    return ["canonicalize: " + e for e in
            W.check_triples(pq.read_table(canon_dir), truth, wl.meta["entity_ids"])]


def _runner_probe(wl, spark, tr, out_dir):
    """run_checkpointed into a fresh dir, the same call again (must
    rewrite nothing), verify_lineage."""
    base = out_dir + "_runner"
    shutil.rmtree(base, ignore_errors=True)
    part = wl.corpus.where(F.col("path") < f"src/mod_{RUNNER_DOCS:06d}.py")

    def run(run_id):
        return R.run_checkpointed(
            spark, part, wl.dictionary, wl.embeddings, base,
            n_buckets=RUNNER_BUCKETS, run_id=run_id, entities=wl.entities,
        )

    tr.switch("manifest.write")
    run("build")
    tr.switch(T.META)
    snap = _snapshot(base)
    tr.switch("manifest.resume")
    run("resume")
    tr.switch("manifest.lineage")
    lineage = R.verify_lineage(spark, part, base, n_buckets=RUNNER_BUCKETS)
    tr.switch(T.META)
    rewritten = _manifest_rows(base, "resume")
    tr.records["manifest.write"] += _manifest_rows(base, "build")
    tr.records["manifest.resume"] += rewritten
    tr.records["manifest.lineage"] += RUNNER_BUCKETS
    tr.extra["rewritten_buckets"] = rewritten
    errs = []
    if not lineage:
        errs.append("runner: verify_lineage returned False")
    if _snapshot(base) != snap:
        errs.append("runner: the no-change rerun rewrote stage data")
    if rewritten:
        errs.append(f"runner: the no-change rerun rewrote {rewritten} buckets")
    return errs


def curate(wl, spark, tr, out_dir, labels, deadline):
    labels.setdefault("detector", "none")
    with contextlib.ExitStack() as st:
        st.enter_context(tr.wrap(PC, "_chain", "dedup.exact"))
        st.enter_context(tr.wrap(DD, "minhash_near_duplicates", "dedup.minhash"))
        st.enter_context(tr.wrap(DD, "dedup_keepers", "dedup.keepers"))
        # decontaminate returns the hit list; the layer's output rows are
        # the clean docs, counted when quota_sample materializes its input
        st.enter_context(tr.wrap(CUR, "decontaminate", "curation.decontaminate", count=False))
        st.enter_context(tr.wrap(CUR, "quota_sample", "curation.quota",
                                 input_layer="curation.decontaminate", count=False))
        tr.switch("curation.signals")
        out = wl.run(spark, wl.corpus)
        out["corpus"].write.mode("overwrite").parquet(out_dir)
    tr.end_op()
    tr.records["curation.signals"] += out["signals"].count()
    tr.records["dedup.exact"] += out["exact_survivors"].count()
    tr.records["curation.quota"] += _rows(out_dir)
    return {"out_dir": out_dir, "probe_errors": []}


STAGED = {"kg_scan": kg_scale, "curate": curate}


def layer_values(tr, op):
    """Per-layer numbers of one staged op, and its staged total."""
    vals = {}
    for s in tr.op_spans(op):
        if s["name"] == T.META or s["parent"] is None:
            continue
        v = vals.setdefault(s["name"], {"wall_s": 0.0, "cpu_s": 0.0, "user_s": 0.0, "sys_s": 0.0})
        v["wall_s"] += s["end"] - s["start"]
        v["cpu_s"] += s["user_s"] + s["sys_s"]
        v["user_s"] += s["user_s"]
        v["sys_s"] += s["sys_s"]
    for layer, m in tr.stage_metrics(op).items():
        vals.setdefault(layer, {}).update(m)
    for layer, n in tr.records.items():
        vals.setdefault(layer, {})["records_out"] = n
    staged = sum(v.get("wall_s", 0.0) for k, v in vals.items() if k not in OFF_PATH)
    return vals, staged, dict(tr.extra)
