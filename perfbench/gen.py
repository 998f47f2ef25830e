"""Seeded, vectorized input generators for the spark-kg benchmark.

Every input is a function of (workload, seed, size) only. Generation is
NumPy/pyarrow (no Spark, no per-token Python) and its output is cached
as parquet under the work directory, keyed by that triple, together
with the ground truth the benchmark checks the program's outputs
against:

* KG corpora (``gen_kg``): source-file rows ``(repo, path, commit,
  lang, content)``, a surface dictionary with synonyms, an ambiguous
  surface, a hub surface and surfaces whose character 3-gram sets are
  identical (so canonicalization merges them deterministically), an
  embeddings table and an entity dimension. Truth: the planted entity
  set of every doc and the (subj, obj, n_docs, score) triples they
  imply, with scores as a float64 NumPy cosine.
* Curation corpora (``gen_curate``): ``(doc_id, lang, text)`` plus a
  benchmark split, with planted exact-duplicate clusters, near-duplicate
  clusters, contaminated docs and low-quality docs. Truth: the exact
  surviving doc set of the curation chain.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PKG, FN = "pkg", "fn"

FILLERS = [
    "def", "return", "self", "for", "while", "if", "else", "class",
    "import", "from", "val", "var", "let", "func", "x", "y", "z",
    "tmp0", "tmp1", "arg0", "arg1", "res", "out", "err", "ok", "0", "1",
    "42", "none", "true", "false",
] + [f"w{i:03d}" for i in range(40)]
# lower() is length-preserving on all of these, so the detector's span
# predicate never drops a hit in a non-ASCII doc
NON_ASCII = ["größe", "café", "naïve", "λx", "中文", "ñandú", "über", "ça"]
CLEAN_SEPS = [" "]
SOURCE_SEPS = [" ", " ", "\n", "(", ")", ".", ", ", " = ", "\t", ";\n    ", ": "]

# Share of docs per tokenizer tier of the Arrow detector: clean text
# (single spaces, [a-z0-9_] after lowering), source-like separators
# (punctuation, newlines, tabs) and non-ASCII docs.
TIER_SHARES = {"clean": 0.60, "source": 0.35, "non_ascii": 0.05}
HUB_SURFACE_FRAC = 0.3  # share of KG docs that mention the hub surface
# input files per corpus: a scan gets several tasks per core, so a core
# the host slows for a while does not hold up the whole stage
N_FILES = 16

# curation corpus: held-out benchmark docs; shares of small-language
# slots that start an exact-dup cluster, a near-dup pair, a contaminated
# doc or a low-quality doc; the small languages and their doc counts
N_BENCH = 200
PLANTED_FRACS = (0.06, 0.20, 0.04, 0.03)
SMALL_LANGS = (("java", 120), ("go", 90))


def _letters(rng, n, length):
    a = rng.integers(0, 26, size=(n, length), dtype=np.uint8) + ord("a")
    return [bytes(r).decode() for r in a]


def _grams(s):
    s = s.lower()
    return {s[i:i + 3] for i in range(max(len(s) - 2, 1))}


def make_dictionary(rng, n_pkg, n_fn):
    """-> (entries [(surface, entity_id, entity_type)], merges) where
    ``merges`` lists the entity groups canonicalization must collapse
    (one shared ambiguous surface; identical-3-gram-set surfaces)."""
    entries = []
    taken = set(FILLERS)

    def fresh(cands):
        for c in cands:
            if c.lower() not in taken:
                taken.add(c.lower())
                return c
        raise RuntimeError("surface space exhausted")

    for i in range(n_pkg):
        eid = f"PKG:{i:04d}"
        entries.append((fresh("lib" + s for s in _letters(rng, 8, 8)), eid, PKG))
        if i % 5 == 0:  # synonym
            entries.append((fresh(s + "kit" for s in _letters(rng, 8, 6)), eid, PKG))
    for i in range(n_fn):
        eid = f"FN:{i:04d}"
        entries.append(
            (fresh(a[:5] + "_" + a[5:] for a in _letters(rng, 8, 11)), eid, FN)
        )
        if i % 7 == 0:  # camelCase synonym
            entries.append(
                (fresh(a[:5] + a[5].upper() + a[6:] for a in _letters(rng, 8, 11)), eid, FN)
            )
    merges = []
    # ambiguous surface: one literal linking two entity ids
    amb = fresh(_letters(rng, 8, 10))
    entries += [(amb, "FN:0000", FN), (amb, "FN:0001", FN)]
    merges.append(["FN:0000", "FN:0001"])
    # identical 3-gram sets ("abcabcabcabc" / "abcabcabcabcabc"): jaccard
    # 1.0, so minhash-LSH pairs them in every band
    for j in range(3):
        a, b = f"FN:{2 + 2 * j:04d}", f"FN:{3 + 2 * j:04d}"
        while True:
            unit = _letters(rng, 1, 3)[0]
            if len(set(unit)) == 3 and (unit * 4) not in taken and (unit * 5) not in taken:
                break
        entries += [(fresh([unit * 4]), a, FN), (fresh([unit * 5]), b, FN)]
        merges.append([a, b])
    # hub surface, planted in a large share of docs
    entries.append((fresh(["stdhub"]), "PKG:0000", PKG))
    _assert_no_near_surfaces(entries, merges)
    return entries, merges


def _assert_no_near_surfaces(entries, merges):
    """No two entities outside a planted merge group may have surfaces
    with character-3-gram jaccard >= 0.6 (canonicalization's threshold);
    otherwise the canonical truth would depend on LSH luck."""
    group = {}
    for g in merges:
        for e in g:
            group[e] = g[0]
    by_gram = {}
    grams = [_grams(s) for s, _, _ in entries]
    for i, gs in enumerate(grams):
        for g in gs:
            by_gram.setdefault(g, []).append(i)
    shared = {}
    for idx in by_gram.values():
        if len(idx) > 1:
            for x in idx:
                for y in idx:
                    if x < y:
                        shared[(x, y)] = shared.get((x, y), 0) + 1
    for (x, y), k in shared.items():
        ex, ey = entries[x][1], entries[y][1]
        if ex == ey or group.get(ex, ex) == group.get(ey, ey):
            continue
        if k / len(grams[x] | grams[y]) >= 0.6:
            raise RuntimeError(f"near-identical surfaces {entries[x]} {entries[y]}")


def _assemble(vocab, pieces, doc_pieces):
    """Concatenate vocab strings per ``pieces`` (flat vocab ids, doc-major,
    ``doc_pieces`` ids per doc) into one Arrow string array, without a
    per-token Python loop."""
    enc = [v.encode() for v in vocab]
    vlen = np.array([len(b) for b in enc], dtype=np.int64)
    vstart = np.concatenate(([0], np.cumsum(vlen)))[:-1]
    vbuf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    plen = vlen[pieces]
    total = int(plen.sum())
    pstart = np.cumsum(plen) - plen
    src = np.repeat(vstart[pieces] - pstart, plen) + np.arange(total, dtype=np.int64)
    data = vbuf[src]
    doc_bytes = np.add.reduceat(plen, np.concatenate(([0], np.cumsum(doc_pieces)[:-1])))
    offsets = np.concatenate(([0], np.cumsum(doc_bytes))).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(doc_pieces), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())
    )


def _write_parquet(table, path):
    """As N_FILES files, so a scan has several splits."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for k in range(N_FILES):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def gen_kg(out, seed, n_docs, tokens, hit_every, n_pkg, n_fn):
    """KG corpus of ``n_docs`` files of ~``tokens`` tokens with a
    dictionary surface every ~``hit_every`` tokens, plus its truth."""
    rng = np.random.default_rng(seed)
    entries, merges = make_dictionary(rng, n_pkg, n_fn)
    ent_ids = sorted({e for _, e, _ in entries})
    ent_type = {e: t for _, e, t in entries}
    eidx = {e: i for i, e in enumerate(ent_ids)}
    n_ent = len(ent_ids)
    surfaces = sorted({s for s, _, _ in entries})
    links = {}
    for s, e, _ in entries:
        links.setdefault(s, []).append(eidx[e])
    n_surf = len(surfaces)
    link_cnt = np.array([len(links[s]) for s in surfaces], dtype=np.int64)
    link_start = np.concatenate(([0], np.cumsum(link_cnt)))[:-1]
    link_ent = np.array([x for s in surfaces for x in sorted(links[s])], dtype=np.int64)
    hub_surf = surfaces.index("stdhub")

    # token vocabulary: fillers | surfaces | UPPER surfaces | decoys | non-ASCII
    decoy_src = rng.choice(n_surf, size=min(64, n_surf), replace=False)
    decoys = [surfaces[i] + "_ext" for i in decoy_src] + ["pre" + surfaces[i] for i in decoy_src]
    lowered = {s.lower() for s in surfaces}
    assert not any(d.lower() in lowered for d in decoys)
    nF, nS, nD = len(FILLERS), n_surf, len(decoys)
    o_surf, o_up, o_dec, o_na = nF, nF + nS, nF + 2 * nS, nF + 2 * nS + nD
    tok_vocab = FILLERS + surfaces + [s.upper() for s in surfaces] + decoys + NON_ASCII
    sep_vocab = CLEAN_SEPS + SOURCE_SEPS
    o_sep = len(tok_vocab)

    # per-doc shape
    tier_names = list(TIER_SHARES)
    tier = rng.choice(len(tier_names), size=n_docs, p=list(TIER_SHARES.values()))
    ln = rng.integers(int(tokens * 0.8), int(tokens * 1.2) + 1, size=n_docs)
    P = int(ln.sum())
    doc_of = np.repeat(np.arange(n_docs), ln)
    start = np.concatenate(([0], np.cumsum(ln)))[:-1]

    hit = rng.random(P) < 1.0 / hit_every
    surf = rng.integers(0, n_surf, size=P)
    hub_pos = start + (rng.random(n_docs) * ln).astype(np.int64)
    has_hub = rng.random(n_docs) < HUB_SURFACE_FRAC
    hit[hub_pos[has_hub]] = True
    surf[hub_pos[has_hub]] = hub_surf
    upper = rng.random(P) < 0.15
    tok = np.where(upper, o_up + surf, o_surf + surf)
    fill = rng.integers(0, nF, size=P)
    decoy = rng.random(P) < 0.02
    fill = np.where(decoy, o_dec + rng.integers(0, nD, size=P), fill)
    na_doc = np.array([tier_names[t] == "non_ascii" for t in tier])[doc_of]
    na = na_doc & (rng.random(P) < 0.1)
    fill = np.where(na, o_na + rng.integers(0, len(NON_ASCII), size=P), fill)
    tok = np.where(hit, tok, fill)

    src_doc = np.array([tier_names[t] != "clean" for t in tier])[doc_of]
    sep = np.where(src_doc, 1 + rng.integers(0, len(SOURCE_SEPS), size=P), 0) + o_sep
    pieces = np.empty(2 * P, dtype=np.int64)
    pieces[0::2] = tok
    pieces[1::2] = sep
    last_sep = 2 * (start + ln) - 1
    keep = np.ones(2 * P, dtype=bool)
    keep[last_sep] = False
    content = _assemble(tok_vocab + sep_vocab, pieces[keep], 2 * ln - 1)

    ids = np.arange(n_docs)
    repo = [f"org{(i // 10) % 17:03d}/repo-{i // 10:05d}" for i in ids]
    corpus = pa.table({
        "repo": repo,
        "path": [f"src/mod_{i:06d}.py" for i in ids],
        "commit": [hashlib.sha1(f"commit-{seed}-{i}".encode()).hexdigest() for i in ids],
        "lang": [("python", "java", "go")[i % 3] for i in ids],
        "content": content,
    })
    _write_parquet(corpus, os.path.join(out, "corpus"))

    # planted entity set per doc: distinct (doc, entity) over the links
    # of every planted surface
    hp = np.flatnonzero(hit)
    hs = surf[hp]
    hd = doc_of[hp]
    c = link_cnt[hs]
    tot = int(c.sum())
    pos = np.arange(tot) - np.repeat(np.cumsum(c) - c, c)
    de = np.unique(np.repeat(hd, c) * n_ent + link_ent[np.repeat(link_start[hs], c) + pos])
    d_doc, d_ent = de // n_ent, de % n_ent
    k = np.bincount(d_doc, minlength=n_docs)

    # ordered pairs within each doc (a != b), all relations but pkg->pkg
    kk = k[d_doc]
    M = int((k.astype(np.int64) ** 2).sum())
    gstart = (np.cumsum(k) - k)[d_doc]
    a = np.repeat(d_ent, kk)
    run_start = np.repeat(np.cumsum(kk) - kk, kk)
    b = d_ent[np.repeat(gstart, kk) + (np.arange(M) - run_start)]
    types = np.array([0 if ent_type[e] == PKG else 1 for e in ent_ids], dtype=np.int64)
    ok = (a != b) & ~((types[a] == 0) & (types[b] == 0))
    n_pairs_kept = int(ok.sum())
    cnt = np.bincount(a[ok] * n_ent + b[ok], minlength=n_ent * n_ent)
    key = np.flatnonzero(cnt)
    ta, tb, tn = key // n_ent, key % n_ent, cnt[key]

    n_vecs = n_ent + 16
    vec_of = rng.permutation(n_vecs)[:n_ent]
    emb = rng.uniform(0.05, 1.0, size=(n_vecs, 32)).astype(np.float32)
    e64 = emb.astype(np.float64)
    va, vb = e64[vec_of[ta]], e64[vec_of[tb]]
    score = (va * vb).sum(1) / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))

    pq.write_table(pa.table({
        "surface": [s for s, _, _ in entries],
        "entity_id": [e for _, e, _ in entries],
        "entity_type": [t for _, _, t in entries],
    }), os.path.join(out, "dictionary.parquet"))
    pq.write_table(pa.table({
        "entity_id": ent_ids,
        "entity_type": [ent_type[e] for e in ent_ids],
        "vec_id": pa.array(vec_of, pa.int64()),
    }), os.path.join(out, "entities.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    }), os.path.join(out, "embeddings.parquet"))
    np.savez(os.path.join(out, "truth.npz"), a=ta, b=tb, n_docs=tn, score=score, types=types)
    meta = {
        "n_docs": n_docs,
        "total_tokens": int(P),
        "hit_docs": int((k > 0).sum()),
        "entities": n_ent,
        "surfaces": n_surf,
        "tier_docs": {t: int((tier == i).sum()) for i, t in enumerate(tier_names)},
        "hub_surface_docs": int(has_hub.sum()),
        "sum_k2": M,
        "n_pairs_kept": n_pairs_kept,
        "n_triples": int(key.size),
        "entity_ids": ent_ids,
        "merges": merges,
    }
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "for"]


def gen_curate(out, seed, n_docs, tokens, quota):
    """Curation corpus with planted clusters. The SMALL_LANGS hold every
    planted doc; the rest are unique ``python`` docs. Expected survivors
    apply ``quota`` per language, ordered by (md5(doc), doc)."""
    exact_frac, near_frac, contam_frac, lowq_frac = PLANTED_FRACS
    rng = np.random.default_rng(seed)
    words = sorted(set(_letters(rng, 6000, 7)) - set(STOPWORDS))[:4000]
    vocab = STOPWORDS + words
    n_stop = len(STOPWORDS)

    def text_ids(n, length):
        # 30% stopwords keeps stopword_ratio >= 0.2 even after an edit, so
        # every regular doc scores quality exactly 1.0 (ties -> min doc)
        ids = rng.integers(n_stop, len(vocab), size=(n, length))
        stop = rng.random((n, length)) < 0.3
        return np.where(stop, rng.integers(0, n_stop, size=(n, length)), ids)

    def join(ids):
        return " ".join(vocab[i] for i in ids)

    n_small = sum(n for _, n in SMALL_LANGS)
    n_py = n_docs - n_small
    docs = []  # (doc_id, lang, text)
    expect_drop = set()
    roles = {"exact": 0, "near": 0, "contam": 0, "lowq": 0}
    bench_ids = text_ids(N_BENCH, tokens)
    bench = [join(r) for r in bench_ids]

    def doc_id(i):
        return f"d{i:07d}"

    i = 0
    base = text_ids(n_py, tokens)
    for r in base:
        docs.append((doc_id(i), "python", join(r)))
        i += 1
    for lang, n in SMALL_LANGS:
        base = text_ids(n, tokens)
        j = 0
        while j < n:
            u = rng.random()
            r = base[j]
            if u < exact_frac and j + 3 <= n:
                size = int(rng.integers(2, 4))
                t = join(r)
                for m in range(size):
                    v = t if m == 0 else ("  ".join(t.split(" ")) if m % 2 else t.upper())
                    docs.append((doc_id(i), lang, v))
                    if m:
                        expect_drop.add(doc_id(i))
                    i += 1
                j += size
                roles["exact"] += 1
            elif u < exact_frac + near_frac and j + 2 <= n:
                t = join(r)
                docs.append((doc_id(i), lang, t))
                docs.append((doc_id(i + 1), lang, t + " " + vocab[int(rng.integers(n_stop, len(vocab)))]))
                expect_drop.add(doc_id(i + 1))
                i += 2
                j += 2
                roles["near"] += 1
            elif u < exact_frac + near_frac + contam_frac:
                w = bench_ids[int(rng.integers(0, N_BENCH))]
                s = int(rng.integers(0, tokens - 20))
                mixed = np.concatenate((r[: tokens // 2], w[s:s + 20], r[tokens // 2:]))
                docs.append((doc_id(i), lang, join(mixed)))
                expect_drop.add(doc_id(i))
                i += 1
                j += 1
                roles["contam"] += 1
            elif u < exact_frac + near_frac + contam_frac + lowq_frac:
                junk = " ".join(f"{vocab[int(x)]}!!#%" for x in rng.integers(n_stop, len(vocab), 8))
                docs.append((doc_id(i), lang, junk))
                expect_drop.add(doc_id(i))
                i += 1
                j += 1
                roles["lowq"] += 1
            else:
                docs.append((doc_id(i), lang, join(r)))
                i += 1
                j += 1
    # shuffle row order so planted clusters are not contiguous in the scan
    order = rng.permutation(len(docs))
    docs = [docs[k] for k in order]
    survivors = {}
    for d, lang, _ in docs:
        if d not in expect_drop:
            survivors.setdefault(lang, []).append(d)
    expect = []
    for lang, ds in survivors.items():
        ds.sort(key=lambda d: (hashlib.md5(d.encode()).hexdigest(), d))
        expect += ds[:quota]
    table = pa.table({
        "doc_id": [d for d, _, _ in docs],
        "lang": [lang for _, lang, _ in docs],
        "text": [t for _, _, t in docs],
    })
    _write_parquet(table, os.path.join(out, "corpus"))
    pq.write_table(pa.table({"text": bench}), os.path.join(out, "benchmark.parquet"))
    meta = {
        "n_docs": len(docs),
        "tokens": tokens,
        "quota": quota,
        "langs": {"python": n_py, **{lang: n for lang, n in SMALL_LANGS}},
        "clusters": roles,
        "expected_survivors": sorted(expect),
    }
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def cached(work, workload, seed, size, fn, **kw):
    """Generate once per (workload, seed, size) into ``work``; returns
    (dir, meta, seconds spent generating now, 0.0 when cached). The key
    also hashes the generator's arguments and source, so a changed spec
    never reuses a stale input."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    tag = hashlib.sha256(src + repr(sorted(kw.items())).encode()).hexdigest()[:10]
    path = os.path.join(work, "inputs", f"{workload}-s{seed}-n{size}-{tag}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        with open(os.path.join(path, "meta.json")) as fh:
            return path, json.load(fh), 0.0
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    meta = fn(path, seed, **kw)
    dt = time.perf_counter() - t0
    open(done, "w").close()
    return path, meta, dt
