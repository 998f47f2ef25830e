"""Layer tracing from outside the program.

A ``Tracer`` keeps one current layer. ``switch(layer)`` closes the
current span and opens the next, and sets the Spark job group so every
job the layer triggers can be found in the UI's REST API afterwards.
``wrap`` replaces a public library function for the duration of a
``with`` block: the wrapper switches to the function's layer, calls it,
and materializes a returned DataFrame (``localCheckpoint``) so the
layer's work happens inside its own span. Counting outputs runs under
the pseudo-layer ``_meta``, which no reported span includes.

Spans (name, start, end, parent, op, run id, CPU) are kept in memory and
written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import io
import json
import time
import urllib.request
from collections import defaultdict

from pyspark.sql import DataFrame

import procs

META = "_meta"
ROOT = "_op"


class Tracer:
    def __init__(self, spark, run_id):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans = []
        self.cur = None
        self.op = None
        self.records = defaultdict(int)
        self.extra = {}

    # -- spans -------------------------------------------------------
    def start_op(self, op):
        self.op = op
        self.records = defaultdict(int)
        self.extra = {}
        self._op_start = time.perf_counter()
        self.switch(ROOT)

    def switch(self, layer):
        now = time.perf_counter()
        u, k, _ = procs.sample()
        if self.cur is not None:
            self.cur.update(end=now, user_s=u - self.cur.pop("_u"), sys_s=k - self.cur.pop("_k"))
            self.spans.append(self.cur)
            self.cur = None
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            return
        self.cur = {
            "name": layer, "start": now, "parent": f"op{self.op}", "op": self.op,
            "run": self.run_id, "_u": u, "_k": k,
        }
        self.sc.setJobGroup(f"{layer}@{self.op}", layer)

    def end_op(self):
        """Close the last layer span and record the op's own span, the
        parent of every layer span of the op."""
        self.switch(None)
        self.spans.append({
            "name": f"op{self.op}", "start": self._op_start, "end": time.perf_counter(),
            "parent": None, "op": self.op, "run": self.run_id,
        })

    @property
    def layer(self):
        return self.cur["name"] if self.cur else None

    def materialize(self, df, layer, count=True):
        self.switch(layer)
        out = df.localCheckpoint(eager=True)
        if count:
            self.switch(META)
            self.records[layer] += out.count()
            self.switch(layer)
        return out

    def meta(self, fn):
        """Run ``fn`` (a counting action) outside every layer span."""
        prev = self.layer
        self.switch(META)
        try:
            return fn()
        finally:
            self.switch(prev)

    # -- wrapping library functions ----------------------------------
    @contextlib.contextmanager
    def wrap(self, module, name, layer, stay=True, input_layer=None, meta=None, count=True):
        """Route calls of ``module.name`` through the tracer (see module
        doc). ``stay``: leave the layer current after the call, so the
        caller's inline work that follows is attributed to it; otherwise
        return to the caller's layer. ``input_layer``: materialize the
        first argument under that layer before the call (its rows count
        as that layer's output). ``meta``: ``fn(result) -> {key: value}``
        run under ``_meta``. ``count``: add the result's rows to the
        layer's ``records_out`` (off for side results such as hit lists)."""
        orig = getattr(module, name)

        def wrapper(*a, **kw):
            if input_layer and a and isinstance(a[0], DataFrame):
                a = (self.materialize(a[0], input_layer),) + a[1:]
            prev = self.layer
            self.switch(layer)
            res = orig(*a, **kw)
            if isinstance(res, DataFrame):
                res = self.materialize(res, layer, count)
                if meta:
                    self.extra.update(self.meta(lambda: meta(res)))
            if not stay:
                self.switch(prev)
            return res

        setattr(module, name, wrapper)
        try:
            yield
        finally:
            setattr(module, name, orig)

    # -- Spark REST metrics --------------------------------------------
    def _get(self, path):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    def stage_metrics(self, op, timeout=20.0):
        """{layer: {jobs, shuffle_write_mb, spill_mb, shuffle_write_records}}
        for op ``op``, read from the REST API once every job of the op
        has finished there (the UI store trails the scheduler)."""
        suffix = f"@{op}"
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("jobs") if str(j.get("jobGroup", "")).endswith(suffix)]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in self._get("stages"):
            if s["status"] == "COMPLETE":
                stages[(s["stageId"], s["attemptId"])] = s
        by_id = defaultdict(list)
        for (sid, _), s in stages.items():
            by_id[sid].append(s)
        out = defaultdict(lambda: {"jobs": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                                   "shuffle_write_records": 0})
        seen = set()
        for j in jobs:
            layer = j["jobGroup"][: -len(suffix)]
            m = out[layer]
            m["jobs"] += 1
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for s in by_id.get(sid, ()):
                    m["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
                    m["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 2**20
                    m["shuffle_write_records"] += s["shuffleWriteRecords"]
        return dict(out)

    def op_spans(self, op):
        return [s for s in self.spans if s["op"] == op]

    def dump(self, path, labels):
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "labels": labels, "spans": self.spans}, fh, indent=1)


def kernel_label(df):
    """Physical kernel of a detector plan, read from ``explain()``."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    text = buf.getvalue()
    found = [k for k in ("MapInArrow", "MapInPandas") if k in text]
    return "+".join(found) or "none"
