"""The workloads: input spec, the timed operation and its check.

Each workload class exposes

* ``generate(work, seed)`` -> (input dir, meta, seconds generating)
* ``load(spark)``          -> builds the program's inputs from the
  generated parquet (lazy Spark reads, the dictionary as a list)
* ``op(spark, out_dir)``   -> runs the primary operation to a complete
  result, returns a dict of sub-timings and handles for the check
* ``check(res)``           -> list of failure strings (empty = correct)

The program only ever sees the generated inputs; sizes and seeds live
here and in the generator.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

from bio_re_with_entity_embeddings_spark import fixtures
from bio_re_with_entity_embeddings_spark.plans import curation as PC
from bio_re_with_entity_embeddings_spark.plans import pipeline as P

SCORE_TOL = 1e-5


def _dictionary(path):
    t = pq.read_table(os.path.join(path, "dictionary.parquet")).to_pydict()
    return [
        fixtures.DictEntry(s, e, ty)
        for s, e, ty in zip(t["surface"], t["entity_id"], t["entity_type"])
    ]


def _kg_truth(path, meta, canonical):
    """Truth triples as sorted int keys: (key=a*E+b, n_docs, score)."""
    z = np.load(os.path.join(path, "truth.npz"))
    a, b, n, s = z["a"], z["b"], z["n_docs"], z["score"]
    E = len(meta["entity_ids"])
    if canonical:
        canon = np.arange(E)
        pos = {e: i for i, e in enumerate(meta["entity_ids"])}
        for group in meta["merges"]:
            idx = [pos[e] for e in group]
            canon[idx] = min(idx)  # ids sort like their strings
        a, b = canon[a], canon[b]
    key = a * E + b
    order = np.argsort(key, kind="stable")
    key, n, s = key[order], n[order], s[order]
    uk, first = np.unique(key, return_index=True)
    return uk, np.add.reduceat(n, first), np.maximum.reduceat(s, first), z["types"]


def check_triples(table, truth, entity_ids):
    """Compare a (subj, pred, obj, score, n_docs) table with the truth:
    same (subj, pred, obj, n_docs) multiset, scores within SCORE_TOL of
    the NumPy cosine."""
    key_t, n_t, s_t, types = truth
    E = len(entity_ids)
    ids = pa.array(entity_ids)
    a = pc.index_in(table.column("subj"), value_set=ids)
    b = pc.index_in(table.column("obj"), value_set=ids)
    if a.null_count or b.null_count:
        return ["unknown entity id in output"]
    a = a.to_numpy(zero_copy_only=False).astype(np.int64)
    b = b.to_numpy(zero_copy_only=False).astype(np.int64)
    key = a * E + b
    order = np.argsort(key, kind="stable")
    key = key[order]
    errs = []
    if key.size != key_t.size:
        errs.append(f"{key.size} triples, expected {key_t.size}")
        return errs
    if not np.array_equal(key, key_t):
        errs.append(f"{int((key != key_t).sum())} (subj, obj) keys differ")
        return errs
    n = table.column("n_docs").to_numpy().astype(np.int64)[order]
    if not np.array_equal(n, n_t):
        errs.append(f"{int((n != n_t).sum())} n_docs differ")
    s = table.column("score").to_numpy(zero_copy_only=False)[order]
    bad = ~(np.abs(s - s_t) <= SCORE_TOL)
    if bad.any():
        errs.append(f"{int(bad.sum())} scores off by > {SCORE_TOL}")
    preds = table.column("pred").to_numpy(zero_copy_only=False)[order]
    # (subj type, obj type) -> predicate, indexed by 2*subj + obj type
    name = np.array([None, "provides", "uses", "calls"], dtype=object)
    want = name[2 * types[key // E].astype(np.int64) + types[key % E]]
    if not (preds == want).all():
        errs.append(f"{int((preds != want).sum())} predicates differ")
    return errs


class KGScan:
    """``build_triples`` on the scale path (``articles_cap=-1``,
    canonicalize off), result written as parquet. Long source files with
    sparse hits, so the detector is the largest single layer."""

    spec = dict(n_docs=2000, tokens=1200, hit_every=96, n_pkg=400, n_fn=1200)

    def __init__(self, name):
        self.name = name

    def generate(self, work, seed):
        size = self.spec["n_docs"]
        self.path, self.meta, dt = gen.cached(work, self.name, seed, size, gen.gen_kg, **self.spec)
        self.truth = _kg_truth(self.path, self.meta, canonical=False)
        return self.path, self.meta, dt

    def load(self, spark):
        p = self.path
        self.dictionary = _dictionary(p)
        self.corpus = spark.read.parquet(os.path.join(p, "corpus"))
        self.entities = spark.read.parquet(os.path.join(p, "entities.parquet"))
        self.embeddings = spark.read.parquet(os.path.join(p, "embeddings.parquet"))
        self.n_docs = self.meta["n_docs"]

    def config(self):
        return P.PipelineConfig(articles_cap=-1)

    def build(self, spark, corpus):
        return P.build_triples(
            spark, corpus, self.dictionary, self.embeddings, self.config(),
            entities=self.entities,
        )

    def write(self, out, out_dir):
        out["triples"].select("subj", "pred", "obj", "score", "n_docs").write.mode(
            "overwrite"
        ).parquet(out_dir)

    def op(self, spark, out_dir):
        t0 = time.perf_counter()
        self.write(self.build(spark, self.corpus), out_dir)
        return {"wall_s": time.perf_counter() - t0, "out_dir": out_dir}

    def check(self, res):
        t = pq.read_table(res["out_dir"])
        return check_triples(t, self.truth, self.meta["entity_ids"])


class Curate:
    """``plans.curation.curate_corpus`` in production mode (xxhash64
    minhash, hashed 13-gram decontamination, salted quota)."""

    # quota 60 < n_docs / 16: with n_docs as the largest-group hint the
    # quota stage takes its salted two-stage path
    spec = dict(n_docs=1000, tokens=150, quota=60)

    def __init__(self, name):
        self.name = name
        self.fingerprint = None

    def generate(self, work, seed):
        self.path, self.meta, dt = gen.cached(
            work, self.name, seed, self.spec["n_docs"], gen.gen_curate, **self.spec
        )
        return self.path, self.meta, dt

    def load(self, spark):
        self.corpus = spark.read.parquet(os.path.join(self.path, "corpus"))
        self.bench = spark.read.parquet(os.path.join(self.path, "benchmark.parquet"))
        self.n_docs = self.meta["n_docs"]

    def config(self):
        # the hint is a true upper bound on the largest lang group; it
        # selects the salted two-stage quota without a plan-time count
        return PC.CurationConfig(quota=self.meta["quota"], quota_max_group_rows=self.n_docs)

    def run(self, spark, docs):
        return PC.curate_corpus(
            spark, docs, benchmark=self.bench, config=self.config(),
            id_col="doc_id", text_col="text", lang_col="lang",
        )

    def op(self, spark, out_dir):
        t0 = time.perf_counter()
        self.run(spark, self.corpus)["corpus"].write.mode("overwrite").parquet(out_dir)
        return {"wall_s": time.perf_counter() - t0, "out_dir": out_dir}

    def check(self, res):
        t = pq.read_table(res["out_dir"]).sort_by("doc")
        docs = t.column("doc").to_pylist()
        errs = []
        want = self.meta["expected_survivors"]
        if docs != want:
            got = set(docs)
            errs.append(
                f"survivors differ: {len(got - set(want))} unexpected, "
                f"{len(set(want) - got)} missing"
            )
        fp = hashlib.sha256(
            repr(t.select(["doc", "lang", "quality", "n_tokens"]).to_pydict()).encode()
        ).hexdigest()
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            errs.append("output fingerprint differs from the first op")
        return errs


WORKLOADS = {
    "kg_scan": KGScan,
    "curate": Curate,
}
