"""Structured-Streaming wrappers (SURVEY 2.9).

The reference is pure batch; its only "incremental" behavior is
file-existence caching. These wrappers are the extension point for a
continuously-arriving corpus: the SAME stage functions run inside
``foreachBatch`` (exactly-once per micro-batch against the
checkpointed manifest), and event-style rollups run as native
watermarked streaming aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_hourly_rollup(
    spark: SparkSession,
    path: str,
    schema,
    watermark: str = "2 hours",
):
    """readStream over an event parquet directory -> watermarked
    tumbling-window rollup (late rows beyond the watermark dropped).
    Returns the unstarted streaming DataFrame; callers pick the sink."""
    events = spark.readStream.schema(schema).parquet(path)
    # parquet event-time may infer as TIMESTAMP_NTZ; watermarks need TIMESTAMP
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    exact content dedup across the whole stream's lifetime.

    State: per content fingerprint (md5 of normalized text), the keeper
    doc id and how many occurrences have been seen. Every arriving doc
    is emitted with ``is_duplicate`` + the keeper id; the first arrival
    (batch ties broken by doc id) becomes the keeper. The state store
    checkpoints with the query, so duplicates are recognized across
    micro-batches AND across restarts — the streaming analog of
    ``operators/dedup.py::exact_duplicates``.

    Shape notes for scale: state is keyed by the 32-hex fingerprint —
    hash-partitioned across executors by the state store, O(1) per
    group per batch; rows per group are tiny (true dup groups). No
    per-row Python outside the Arrow batches.
    """
    import pandas as pd

    from ..functions.text import fingerprint

    keyed = docs_stream.select(
        fingerprint(text_col).alias("fp"),
        F.col(id_col).cast("string").alias("doc"),
    )

    def dedup_fn(key, pdfs, state):
        if state.exists:
            keeper, n = state.get
        else:
            keeper, n = None, 0
        out = []
        for pdf in pdfs:
            for doc in sorted(pdf["doc"].tolist()):
                n += 1
                if keeper is None:
                    keeper = doc
                out.append((key[0], doc, keeper, doc != keeper, n))
        state.update((keeper, n))
        yield pd.DataFrame(
            out, columns=["fp", "doc_id", "keeper", "is_duplicate", "n_seen"]
        )

    return keyed.groupBy("fp").applyInPandasWithState(
        dedup_fn,
        outputStructType=(
            "fp string, doc_id string, keeper string, "
            "is_duplicate boolean, n_seen long"
        ),
        stateStructType="keeper string, n long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_triple_emitter(
    pairs_stream: DataFrame,
    threshold: int = 2,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator: threshold-based triple
    emission (the north rule's triple-emission semantics, incremental).

    Input: doc-level evidence rows (subj, pred, obj) — one row per
    (document, pair), distinct across the stream's lifetime (the shape
    ``incremental_triples`` produces; per-doc arrays are distinct by
    construction and each corpus file arrives once).

    State per (subj, pred, obj): cumulative distinct-doc support + an
    emitted flag. A triple row is emitted EXACTLY ONCE, in the
    micro-batch whose evidence carries its support across
    ``threshold`` (n_docs = the crossing count). The state store
    checkpoints with the query: support accumulates across
    micro-batches and restarts, and the once-only guarantee survives
    replay (state commits atomically with the batch).

    State-size envelope: 17 bytes (one long + one bool) per distinct
    candidate pair ever seen — ~17 GB of state-store footprint per 10^9
    candidates, hash-partitioned across executors. By default nothing
    expires: that unbounded-but-linear growth is what makes the
    once-only guarantee unconditional. ``idle_timeout_ms`` bounds it:
    a BELOW-THRESHOLD candidate that receives no evidence for that
    long is dropped (ProcessingTimeTimeout; if evidence arrives later
    its support restarts from 0 — the standard cost of state TTL).
    EMITTED pairs never time out — their flag is the once-only
    guarantee, so the 17 B/emitted-triple floor is permanent by
    design, and emitted state is re-persisted without a timeout on
    expiry ticks.

    Operational caveat (measured): with ProcessingTimeTimeout the
    engine schedules batches continuously to service future expiries,
    so drain-style runs (``processAllAvailable()`` / an availableNow
    trigger) never settle while the query is running — callers of the
    TTL variant must ``stop()`` the query explicitly (poll
    ``recentProgress`` for consumed input, as the TTL test does). The
    default ``idle_timeout_ms=None`` keeps the NoTimeout behavior and
    drains normally.

    Scale shape: per-batch work is O(evidence rows in the batch); no
    stream-stream join anywhere.
    """
    import pandas as pd

    cols = ["subj", "pred", "obj", "n_docs"]

    def emit_fn(key, pdfs, state):
        if getattr(state, "hasTimedOut", False):
            # idle below-threshold candidate: drop its state. (Emitted
            # groups never arm a timeout, so they cannot land here.)
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        n, emitted = state.get if state.exists else (0, False)
        for pdf in pdfs:
            n += len(pdf)
        out = []
        if not emitted and n >= threshold:
            out.append((key[0], key[1], key[2], n))
            emitted = True
        state.update((int(n), bool(emitted)))
        # ProcessingTimeTimeout resets on every invocation; only arm it
        # for candidates still below threshold — emitted pairs keep
        # their flag forever (once-only guarantee).
        if idle_timeout_ms is not None and not emitted:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(out, columns=cols)

    return pairs_stream.groupBy("subj", "pred", "obj").applyInPandasWithState(
        emit_fn,
        outputStructType="subj string, pred string, obj string, n_docs long",
        stateStructType="n long, emitted boolean",
        outputMode="append",
        timeoutConf=(
            "ProcessingTimeTimeout" if idle_timeout_ms is not None else "NoTimeout"
        ),
    )


def incremental_triples(
    corpus_stream: DataFrame,
    dict_entries,
    relations: list[tuple[str, str]],
    predicate_fn,
    threshold: int = 2,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Full incremental KG construction as ONE streaming plan, no
    stream-stream join: Arrow entity-array detector (mapInPandas is
    streaming-capable) -> map-side k^2 pair expansion by double explode
    (pairs never leave their doc row — the same shuffle-free shape as
    the batch scale path, plans/pipeline.py::_build_scale) -> broadcast
    restore of entity-id strings (stream-static) -> stateful
    threshold emission (``streaming_triple_emitter``).

    ``relations``: (source_type, target_type) pairs;
    ``predicate_fn(src_t, tgt_t) -> str`` names each relation.
    Returns the unstarted streaming DataFrame of
    (subj, pred, obj, n_docs) triples; callers pick sink + checkpoint.
    ``idle_timeout_ms`` passes through to the emitter's state TTL (see
    ``streaming_triple_emitter`` for semantics and the drain caveat).
    """
    from ..operators.mentions import detect_entity_arrays
    from ..plans.pipeline import entity_dim, ingest

    spark = corpus_stream.sparkSession
    ids = sorted({e[1] for e in dict_entries})
    entity_idx = {eid: i + 1 for i, eid in enumerate(ids)}
    all_types = sorted({e[2] for e in dict_entries})
    type_codes = {t: i for i, t in enumerate(all_types)}
    idx_dim = entity_dim(spark, entity_idx)

    arrs = detect_entity_arrays(
        ingest(corpus_stream), dict_entries, entity_idx, type_codes
    )
    raw = (
        arrs.select(F.explode("ets").alias("eta"), "ets")
        .select("eta", F.explode("ets").alias("etb"))
        .select(
            F.shiftright("eta", 8).alias("si"),
            F.shiftright("etb", 8).alias("oi"),
            (
                F.col("eta").bitwiseAND(F.lit(255)) * 256
                + F.col("etb").bitwiseAND(F.lit(255))
            ).alias("rc"),
        )
    )
    wanted = [type_codes[s] * 256 + type_codes[t] for s, t in relations]
    pred_by_code = F.create_map(
        *[
            x
            for (s, t) in relations
            for x in (
                F.lit(type_codes[s] * 256 + type_codes[t]),
                F.lit(predicate_fn(s, t)),
            )
        ]
    )
    pairs = (
        raw.where(F.col("rc").isin(wanted) & (F.col("si") != F.col("oi")))
        .withColumn("pred", pred_by_code[F.col("rc")])
        .join(
            F.broadcast(
                idx_dim.select(F.col("idx").alias("si"), F.col("entity_id").alias("subj"))
            ),
            "si",
        )
        .join(
            F.broadcast(
                idx_dim.select(F.col("idx").alias("oi"), F.col("entity_id").alias("obj"))
            ),
            "oi",
        )
        .select("subj", "pred", "obj")
    )
    return streaming_triple_emitter(pairs, threshold, idle_timeout_ms)


def incremental_curated_triples(
    corpus_stream: DataFrame,
    dict_entries,
    relations: list[tuple[str, str]],
    predicate_fn,
    threshold: int = 2,
    idle_timeout_ms: int | None = None,
    dedup_within: str | None = None,
) -> DataFrame:
    """Streaming curation composed with streaming KG construction: the
    corpus stream is exact-content-DEDUPED before detection, so a
    re-crawled / mirrored document can never double-count pair support
    (the streaming analog of ``curate_corpus``'s exact-dedup stage
    feeding ``build_triples``).

    The dedup stage is Spark's NATIVE streaming ``dropDuplicates`` on
    the content fingerprint — engine state store, so dedup state
    checkpoints with the query and survives restarts, and (unlike the
    custom ``streaming_dedup`` operator) the native operator is
    CHAINABLE in front of the downstream stateful emitter: Spark
    requires applyInPandasWithState to be the last stateful operator
    in an append-mode plan, so the observability-oriented
    ``streaming_dedup`` (which reports keeper/is_duplicate per
    arrival) cannot be composed upstream of it. Keeper semantics:
    first arrival wins (a within-batch tie picks an arbitrary clone —
    harmless here, identical content yields identical entities).

    State-size envelope (``dedup_within=None``, the exact default):
    the dedup state holds one row per DISTINCT content fingerprint
    ever seen — ~50 B/doc of state-store footprint, hash-partitioned;
    ~50 GB per 10^9 distinct documents. That unbounded-but-linear
    growth is what makes the never-double-count guarantee
    unconditional (same trade as the emitter's 17 B/pair state, which
    this composition also carries). ``dedup_within`` (e.g.
    ``"24 hours"``) bounds it via
    ``dropDuplicatesWithinWatermark`` over an ingest-time watermark:
    state older than the horizon is evicted, so a clone re-arriving
    AFTER it is re-admitted and can double-count — the standard TTL
    trade; pick the horizon from the re-crawl cadence.

    Returns the unstarted (subj, pred, obj, n_docs) streaming
    DataFrame, exactly-once per triple across restarts."""
    from ..functions.text import fingerprint

    if dedup_within is not None:
        deduped = (
            corpus_stream.withColumn("_fp", fingerprint("content"))
            .withColumn("_ingest_ts", F.current_timestamp())
            .withWatermark("_ingest_ts", dedup_within)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp", "_ingest_ts")
        )
    else:
        deduped = (
            corpus_stream.withColumn("_fp", fingerprint("content"))
            .dropDuplicates(["_fp"])
            .drop("_fp")
        )
    return incremental_triples(
        deduped, dict_entries, relations, predicate_fn, threshold,
        idle_timeout_ms,
    )


def incremental_triples_to_graph(
    corpus_stream: DataFrame,
    dict_entries,
    relations: list[tuple[str, str]],
    predicate_fn,
    target: str,
    checkpoint_dir: str,
    threshold: int = 2,
    catalog: str | None = None,
    n_buckets: int = 64,
):
    """North-rule end to end, streaming: threshold-crossed triples from
    ``incremental_triples`` appended per micro-batch into the
    (pred, bucket(subj)) graph table (``sources/iceberg.write_triples``
    — Iceberg V2 writer when a catalog is configured, identical
    partitioned-parquet layout otherwise).

    Exactly-once: the stateful emitter never re-emits a triple, so the
    only duplicate risk is a sink append replayed after a crash BETWEEN
    sink completion and checkpoint commit; with an Iceberg sink make
    the append idempotent by epoch (e.g. write epoch_id and MERGE), or
    dedupe on read — documented rather than hidden. Returns the
    unstarted writeStream (callers ``.start()``)."""
    from ..sources import iceberg as ICE

    triples = incremental_triples(
        corpus_stream, dict_entries, relations, predicate_fn, threshold
    )

    def sink(df: DataFrame, epoch_id: int) -> None:
        ICE.write_triples(df, target, catalog, n_buckets, mode="append")

    return (
        triples.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def incremental_mentions(
    spark: SparkSession,
    corpus_stream: DataFrame,
    dict_entries,
    sink_fn,
    checkpoint_dir: str,
):
    """foreachBatch wrapper: run ingest + trie mention detection on
    each corpus micro-batch and hand the mention DataFrame to
    ``sink_fn(df, epoch_id)`` (e.g. an idempotent Iceberg append keyed
    by epoch). Spark's streaming checkpoint provides exactly-once
    batch replay; the sink must be idempotent per epoch_id."""
    from ..operators.mentions import detect_mentions
    from ..plans.pipeline import ingest

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        mentions = detect_mentions(ingest(batch_df), dict_entries)
        sink_fn(mentions, epoch_id)

    return (
        corpus_stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def streaming_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows over an event stream: per (user, session)
    event counts with sessions merged under ``gap`` inactivity —
    the streaming form of the batch ``events_sessionize`` contract
    query (lag + running-sum), executed by Spark's built-in
    ``session_window`` state store instead of a hand-rolled stateful
    UDF (state merging, watermark eviction and restart recovery come
    from the engine).

    Boundary semantics: ``session_window`` extends a session to
    ``last_ts + gap`` HALF-OPEN, so an event at exactly ``gap``
    separation starts a NEW session, where the batch query's strict
    ``>`` keeps it; identical on every input whose gaps differ from
    the boundary (pinned by the parity test, which also documents the
    divergence).

    In append mode a session row is emitted once the event-time
    watermark passes its end — late events within ``watermark`` still
    merge; a session is never emitted twice.
    """
    e = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark)
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def streaming_distinct_rollup(
    events_stream: DataFrame,
    value_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 12,
) -> DataFrame:
    """Watermarked per-window approximate COUNT(DISTINCT) — the HLL
    REGISTER table (operators/sketches.py::hll_registers) run as a
    NATIVE streaming aggregate, the composition the sketch's
    mergeability exists for: the engine's ``max(r)`` state IS
    ``hll_merge``'s bucket-wise combine, so registers accumulated
    across micro-batches (and across restarts, via the checkpointed
    state store) equal the batch registers over the same rows —
    pinned bit-exactly by the parity test. Exact streaming distinct
    would keep EVERY distinct value per open window in the state
    store; this keeps <= 2^p small ints per window however many
    events arrive.

    Emits ``(window_start, bucket, r)`` in append mode once the
    watermark closes a window. The register rows — not estimates —
    are the shippable artifact: they stay mergeable downstream
    (days roll into weeks by bucket-wise max without re-reading
    events); finish with ``hll_estimate(regs, p,
    group_cols=["window_start"])`` at read time."""
    from ..operators.sketches import hll_registers

    e = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark)
    base = e.select(F.window("ts", window).alias("w"), F.col(value_col))
    regs = hll_registers(base, value_col, ["w"], p=p)
    return regs.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "bucket",
        "r",
    )
