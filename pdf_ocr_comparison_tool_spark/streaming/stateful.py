"""Custom stateful streaming operator via ``applyInPandasWithState``.

Running per-user accumulator: for each micro-batch, update persistent
state (event count, value sum, last-seen epoch) and emit the updated
totals. This is the pattern a streaming dedup / rate-limiter / feature
accumulator uses at 10^12-event scale — state is partitioned by key,
stored in the state store, and survives across triggers.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, n_events long, sum_value double, last_epoch long"
)
STATE_SCHEMA = "n long, s double, last long"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, last = state.get
    else:
        n, s, last = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        if len(pdf):
            last = max(last, int(pdf["epoch"].max()))
    state.update((n, s, last))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [s],
            "last_epoch": [last],
        }
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """events stream → per-user running totals with persistent state."""
    prepared = events_stream.select(
        "user_id",
        F.col("value").cast("double").alias("value"),
        F.unix_timestamp("ts").alias("epoch"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUTPUT_SCHEMA = "text_hash string, doc_id long"
DEDUP_STATE_SCHEMA = "kept long"


def _dedup_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (text_hash,) = key
    first_seen = not state.exists
    kept = None if first_seen else state.get[0]
    for pdf in pdfs:
        if len(pdf):
            mn = int(pdf["doc_id"].min())
            kept = mn if kept is None else min(kept, mn)
    state.update((kept,))
    if first_seen:
        yield pd.DataFrame({"text_hash": [text_hash], "doc_id": [kept]})


ADMIT_OUTPUT_SCHEMA = (
    "doc_id long, n_tokens long, quality string, "
    "top_2gram_char_frac double, dup_3gram_frac double, "
    "model_drop boolean, exact_keep boolean"
)
ADMIT_STATE_SCHEMA = "seen long"


def _admit_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # accumulate ALL Arrow chunks for the key before flagging: a hash
    # group spanning chunks (>~10k duplicate rows in one micro-batch)
    # must keep the batch-GLOBAL min doc_id, same as _dedup_update —
    # per-chunk flagging would keep the first chunk's local min. Memory
    # is bounded by duplicates of ONE text_hash within one micro-batch
    # (narrow signal rows, no text column).
    seen = state.exists
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        rows = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        flags = [False] * len(rows)
        if not seen:
            flags[0] = True
        yield rows.assign(exact_keep=flags).drop(columns=["text_hash"])
    state.update((1,))


def streaming_corpus_filter(
    docs_stream: DataFrame, use_quality_model: bool = False
) -> DataFrame:
    """Streaming twin of pipeline.corpus_filter — the admission verdict
    an ingestion FIREHOSE applies per arriving document:

    * the stateless stages (length, quality band, repetition) are the
      SAME narrow expressions as the batch operator (textstats
      quality_exprs / repetition_exprs), computed in one projection —
      a stream can't join two derivations of itself, which is exactly
      why those operators expose their expression dicts;
    * the exact-dup stage is the first-seen state-store pattern of
      :func:`streaming_first_seen_dedup`: per content hash, the first
      arrival (min doc_id within its micro-batch) keeps, every later
      arrival is dropped as ``exact_dup`` — equal to the batch
      min-doc_id keep when ingestion order follows doc_id;
    * the model quality stage (``use_quality_model``, the opt-in twin
      of batch ``corpus_filter(quality_model=...)``) folds the
      broadcast-sized weight dim into a literal-map expression
      (textstats.quality_model_exprs) — identical integer operands to
      the batch scorer, so labels agree exactly;
    * the near-dup cluster stage is EXCLUDED by design: cluster keep
      is a global graph property of the whole corpus, and a stream
      only ever sees a prefix — the batch job (run_corpus_job) owns
      that stage. The streaming verdict is therefore the same
      precedence chain with ``near_dup`` removed.

    Emits one verdict row per arriving doc: (doc_id, n_tokens,
    quality, top_2gram_char_frac, dup_3gram_frac, exact_keep,
    drop_reason, keep)."""
    from ..operators import textstats
    from ..operators.features import text_hash
    from ..operators.pipeline import MAX_DUP3_FRAC, MAX_TOP2_FRAC, MIN_TOKENS

    q = textstats.quality_exprs(F.col("text"))
    r = textstats.repetition_exprs(F.col("text"))
    model_drop = (
        textstats.quality_model_exprs(F.col("text"))["model_drop"]
        if use_quality_model
        else F.lit(False)
    )
    sig = docs_stream.select(
        "doc_id",
        text_hash(F.col("text")).alias("text_hash"),
        r["n_tokens"].cast("long").alias("n_tokens"),
        q["quality"].alias("quality"),
        r["top_2gram_char_frac"].alias("top_2gram_char_frac"),
        r["dup_3gram_frac"].alias("dup_3gram_frac"),
        model_drop.alias("model_drop"),
    )
    admitted = sig.groupBy("text_hash").applyInPandasWithState(
        _admit_update,
        outputStructType=ADMIT_OUTPUT_SCHEMA,
        stateStructType=ADMIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    reason = (
        F.when(~F.col("exact_keep"), F.lit("exact_dup"))
        .when(F.col("n_tokens") < MIN_TOKENS, F.lit("too_short"))
        .when(F.col("quality") == "low", F.lit("low_quality"))
        .when(F.col("model_drop"), F.lit("model_low_quality"))
        .when(F.col("top_2gram_char_frac") > MAX_TOP2_FRAC, F.lit("repetitive_2gram"))
        .when(F.col("dup_3gram_frac") > MAX_DUP3_FRAC, F.lit("repetitive_3gram"))
    )
    return admitted.select(
        "*", reason.alias("drop_reason"), reason.isNull().alias("keep")
    )


def streaming_first_seen_dedup(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup — the unbounded twin of
    dedup.exact_dup_groups' keep policy: per content hash, admit only
    the first-seen document (min doc_id within the first micro-batch
    that carries the hash) and suppress every later arrival via
    persistent key-partitioned state. This is the shape an ingestion
    firehose dedups with at 10^12 docs: state lives in the state store
    sharded by hash, no batch-global shuffle ever forms.

    Arrival-order semantics by design: when ingestion order follows
    doc_id (the test fixes this via file modification times), the
    admitted set equals the batch min-doc_id keep set."""
    from ..operators.features import text_hash

    hashed = docs_stream.select(
        "doc_id", text_hash(F.col("text")).alias("text_hash")
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_update,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------- incremental admission
INC_OUTPUT_SCHEMA = (
    "doc_id long, text_hash string, exact_dup_of long, status string"
)
INC_STATE_SCHEMA = "admitted long"


def _inc_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (h,) = key
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:  # unreachable with NoTimeout, but stay empty-safe
        return
    rows = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
    keeper = state.get[0] if state.exists else None
    statuses = []
    for _, r in rows.iterrows():
        if pd.notna(r["exact_dup_of"]):
            statuses.append("exact_dup")
        elif keeper is not None:
            statuses.append("in_stream_dup")
        else:
            keeper = int(r["doc_id"])
            statuses.append("new")
    if keeper is not None:
        state.update((keeper,))
    yield pd.DataFrame(
        {
            "doc_id": rows["doc_id"].astype("int64"),
            "text_hash": h,
            "exact_dup_of": rows["exact_dup_of"].astype("Int64"),
            "status": statuses,
        }
    )


def streaming_incremental_dedup(
    new_stream: DataFrame, old_corpus: DataFrame
) -> DataFrame:
    """Streaming twin of the incremental-ingest exact stage: each
    arriving doc is checked against the STATIC existing corpus via a
    stream-static LEFT equi-join on the 128-bit content hash (the
    static side is a normal batch relation joined per micro-batch —
    pre-reduced to one row per hash, so a boilerplate hash never fans
    out), and against everything already admitted in THIS run via
    per-hash state (first-seen keeps the smallest doc_id, batch-global
    across chunks like _dedup_update). Emits one verdict row per
    arriving doc: exact_dup (of the old corpus) / in_stream_dup / new.

    The LSH near-dup stage stays batch-side by design: a streaming
    near-dup verdict would need the candidate bucket join against
    per-bucket state — the batch incremental_dedup covers it; real
    ingest pipelines run exact admission online and near-dup sweeps
    in the nightly batch."""
    from ..operators.dedup import old_corpus_hashes
    from ..operators.features import text_hash

    oldh = old_corpus_hashes(old_corpus, hash_col="text_hash")
    s = new_stream.select(
        "doc_id", text_hash(F.col("text")).alias("text_hash")
    )
    joined = s.join(oldh, "text_hash", "left")
    return joined.groupBy("text_hash").applyInPandasWithState(
        _inc_update,
        outputStructType=INC_OUTPUT_SCHEMA,
        stateStructType=INC_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ASOF_OUTPUT_SCHEMA = (
    "user_id long, event_id long, p_epoch long, click_id long, "
    "click_epoch long, lag_sec long, click_value double"
)
ASOF_STATE_SCHEMA = "c_epoch long, c_id long, c_value double"


def _asof_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    ce, ci, cv = state.get if state.exists else (None, None, None)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return
    # sort (epoch, is_probe, event_id): a touch at exactly the probe's
    # epoch is attributable (the <= contract), equal-epoch touches
    # resolve to max event_id — the batch operator's pre-reduce
    rows = pd.concat(chunks, ignore_index=True).sort_values(
        ["epoch", "is_probe", "event_id"]
    )
    is_t = ~rows["is_probe"].astype(bool)
    # carry the latest touch forward within the batch (vectorized
    # ffill), seeded by the cross-trigger state
    ce_s = rows["epoch"].where(is_t).ffill()
    ci_s = rows["event_id"].where(is_t).ffill()
    cv_s = rows["value"].where(is_t).ffill()
    if ce is not None:
        ce_s, ci_s, cv_s = ce_s.fillna(ce), ci_s.fillna(ci), cv_s.fillna(cv)
    if is_t.any():
        last = rows[is_t].index[-1]
        state.update(
            (
                int(rows["epoch"][last]),
                int(rows["event_id"][last]),
                float(rows["value"][last]),
            )
        )
    probes = rows["is_probe"].astype(bool)
    if not probes.any():
        return
    p = rows[probes]
    pce = ce_s[probes].astype("Int64")
    yield pd.DataFrame(
        {
            "user_id": user_id,
            "event_id": p["event_id"].astype("int64"),
            "p_epoch": p["epoch"].astype("int64"),
            "click_id": ci_s[probes].astype("Int64"),
            "click_epoch": pce,
            "lag_sec": p["epoch"].astype("int64") - pce,
            "click_value": cv_s[probes].astype("float64"),
        }
    )


def streaming_last_touch(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of temporal.last_touch_attribution — per-user
    last-touch attribution as events ARRIVE (the ad-tech streaming
    standard): the state store carries each user's latest touch
    (epoch, id, value); every probe event emits its attribution row
    immediately. Matches the batch as-of join whenever ingestion order
    follows event time per user (the same ordering caveat as the other
    streaming twins — out-of-order arrivals would need a watermark +
    reorder buffer, a semantics change the batch operator has no
    analogue for)."""
    from ..operators.reports import ntz_epoch
    from ..operators.temporal import ASOF_PROBE_TYPE, ASOF_TOUCH_TYPE

    prepared = events_stream.filter(
        F.col("event_type").isin(ASOF_PROBE_TYPE, ASOF_TOUCH_TYPE)
    ).select(
        "user_id",
        "event_id",
        ntz_epoch("ts").cast("long").alias("epoch"),
        (F.col("event_type") == ASOF_PROBE_TYPE).alias("is_probe"),
        F.col("value").cast("double").alias("value"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _asof_update,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TRANS_OUTPUT_SCHEMA = "user_id long, from_type string, to_type string"
TRANS_STATE_SCHEMA = "e long, i long, t string"


def _transitions_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last_t = state.get[2] if state.exists else None
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return
    rows = pd.concat(chunks, ignore_index=True).sort_values(
        ["epoch", "event_id"]
    )
    types = rows["event_type"].tolist()
    froms = ([last_t] if last_t is not None else []) + types[:-1]
    tos = types if last_t is not None else types[1:]
    tail = rows.iloc[-1]
    state.update((int(tail["epoch"]), int(tail["event_id"]), str(tail["event_type"])))
    if not froms:
        return
    yield pd.DataFrame(
        {"user_id": user_id, "from_type": froms, "to_type": tos}
    )


def streaming_event_transitions(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of reports.event_transitions — per-user Markov
    transition rows emitted as events ARRIVE: the state store carries
    each user's latest event (epoch, id, type); every arrival whose
    user has a prior event emits one (from_type, to_type) row. The
    ``<end>`` terminal has no streaming analogue (a stream never
    ends) — the batch-equality contract is on the non-terminal rows,
    under the same in-order-per-user ingestion caveat as the other
    streaming twins. Downstream counting/probabilities are a plain
    streaming aggregation over these rows."""
    from ..operators.reports import ntz_epoch

    prepared = events_stream.select(
        "user_id",
        "event_id",
        ntz_epoch("ts").cast("long").alias("epoch"),
        "event_type",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _transitions_update,
        outputStructType=TRANS_OUTPUT_SCHEMA,
        stateStructType=TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RATE_LIMIT = 50  # fixed per-user event budget (spec constant)

MON_OUTPUT_SCHEMA = "user_id long, event_id long, n_so_far long, over_limit boolean"
MON_STATE_SCHEMA = "cnt long"


def _rate_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    base = state.get[0] if state.exists else 0
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return
    rows = pd.concat(chunks, ignore_index=True).sort_values(
        ["epoch", "event_id"]
    )
    n = base + pd.RangeIndex(1, len(rows) + 1)
    state.update((int(base + len(rows)),))
    yield pd.DataFrame(
        {
            "user_id": user_id,
            "event_id": rows["event_id"].astype("int64").values,
            "n_so_far": n.astype("int64"),
            "over_limit": (n > RATE_LIMIT),
        }
    )


def streaming_rate_monitor(events_stream: DataFrame) -> DataFrame:
    """Online per-user rate monitor — the streaming counterpart of the
    batch rate_outliers screen: the batch screen thresholds on
    POPULATION statistics (needs the whole corpus), production online
    rate limiting uses a FIXED budget, so that is what the state store
    carries: each arriving event gets its user's running count and an
    over-budget flag the moment the budget is crossed. Same
    in-order-per-user ingestion caveat as the other twins."""
    from ..operators.reports import ntz_epoch

    prepared = events_stream.select(
        "user_id", "event_id", ntz_epoch("ts").cast("long").alias("epoch")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _rate_update,
        outputStructType=MON_OUTPUT_SCHEMA,
        stateStructType=MON_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bloom_screen(docs_stream: DataFrame, bits: DataFrame) -> DataFrame:
    """STREAM-STATIC join twin of the Bloom decontamination screen
    (operators.dedup.bloom_gram_hits): the set-bit table is built ONCE
    from the eval corpus in batch (bounded by BLOOM_M_BITS rows —
    broadcast-safe forever) and each arriving document's distinct
    n-grams cross the same k broadcast membership joins. Completely
    stateless — append mode, no watermark, no state store — which is
    exactly why the Bloom form is the streaming-admission shape: the
    exact-join screen would need the full eval gram table as a
    streaming join side. Per-gram verdicts; the per-doc rollup stays a
    downstream batch aggregate (or a session-windowed one)."""
    from ..operators.dedup import _bloom_grams, bloom_gram_hits

    return bloom_gram_hits(_bloom_grams(docs_stream), bits)
