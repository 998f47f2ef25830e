"""Round-6 optimization pin: the Arrow/NumPy batch kernel inside
``detect_entity_arrays`` (ascii_lower -> split_pattern_regex ->
index_in -> CSR link expansion -> np.unique) must be bit-identical to
the per-doc Python token probe it replaced — including all three
tokenizer tiers (clean single-space docs, other ASCII docs, non-ASCII
docs on the per-doc fallback path), the per-doc sorted
distinct ``ets`` order, the hub cap, ambiguous surfaces (one token ->
several links), None/empty content, and docs with zero hits.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from bio_re_with_entity_embeddings_spark.operators import mentions as M

VOCAB = ["join", "merge", "scan", "sort", "spark", "filter", "qqx", "zzy"]
ENTRIES = [
    ("join", "OP:join", "op"),
    ("merge", "OP:merge", "op"),
    ("scan", "OP:scan", "op"),
    ("spark", "PKG:spark", "pkg"),
    ("spark", "PKG:pyspark", "pkg"),  # ambiguous surface -> 2 links
    ("filter", "OP:filter", "op"),
]
IDX = {
    eid: i + 1
    for i, eid in enumerate(dict.fromkeys(x[1] for x in ENTRIES))
}


def _reference(docs_rows, entries, entity_idx, cap=0):
    """Independent per-doc restatement of the token-probe semantics."""
    import re

    patterns: dict[str, list[int]] = {}
    types = sorted({t for _, _, t in entries})
    tcode = {t: i for i, t in enumerate(types)}
    for s, eid, et in entries:
        patterns.setdefault(s.lower(), []).append(
            entity_idx[eid] * 256 + tcode[et]
        )
    token_re = re.compile(r"[a-z0-9_]+")
    out = {}
    for doc_id, content in docs_rows:
        if not content:
            continue
        low = content.lower()
        seen = set()
        for m in token_re.finditer(low):
            links = patterns.get(m.group())
            if links is None:
                continue
            if len(low) != len(content) and content[
                m.start():m.end()
            ].lower() != m.group():
                continue
            seen.update(links)
        if seen:
            ets = sorted(seen)
            out[doc_id] = ets[:cap] if cap > 0 else ets
    return out


@pytest.mark.parametrize("cap", [0, 2])
def test_vectorized_equals_reference(spark, cap):
    rng = random.Random(7)
    rows = []
    for i in range(300):
        n = rng.randint(0, 30)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        if i % 5 == 0:
            text = text.replace(" ", ".(").title()  # ASCII regex-split tier
        if i % 11 == 0:
            text = "İ " + text  # non-ASCII -> per-doc fallback branch
        if i % 13 == 0:
            text = text + " naïve café"
        rows.append((f"d{i:04d}", text))
    rows.append(("dempty", ""))
    rows.append(("dnone", None))
    rows.append(("dnohit", "nothing matches here at all"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "content"]).astype(
            {"doc_id": "string"}
        )
    )
    got = M.detect_entity_arrays(
        docs, ENTRIES, IDX, max_entities_per_doc=cap
    ).toPandas()
    got_map = {r["doc_id"]: list(r["ets"]) for _, r in got.iterrows()}
    exp = _reference(rows, ENTRIES, IDX, cap)
    assert got_map == exp
