"""Session-window conversation assembly via ``applyInPandasWithState``.

The second streaming ingestion surface beside foreachBatch
(:mod:`deduplicate_spark.streaming.incremental`): where the buffered
foreachBatch mode releases a conversation after N QUIET MICRO-BATCHES,
this operator is the Spark-native custom-stateful form — per-conversation
state lives in Spark's state store (RocksDB/HDFS-backed on a real
cluster, checkpointed with the query), and a conversation is emitted as
one assembled document when its processing-time session GAP expires, the
classic session-window pattern.

Scale shape: state is partitioned by conv_id (the groupBy key), so state
size per executor is O(open conversations / executors), independent of
stream history; each trigger touches only the groups present in the batch
plus expired timers. Arrow-batched pandas transfer, no per-row Python.

Parity contract: for the same turns, the emitted documents carry
BYTE-IDENTICAL cascade keys to batch :func:`assemble_docs` — the turn
ordering (turn_idx, then text as tie-break), separator, and hash
projection (:func:`doc_hash_keys`) are shared, pinned by
tests/test_sessionize.py.

The reference has no streaming at all (SURVEY.md §2.9); this module, like
incremental.py, is part of the production-pipeline surface a 100 TB
transcript feed needs rather than reference parity.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.operators.assembly import TURN_SEPARATOR, apply_excludes, doc_hash_keys

# assembled-doc rows emitted when a session closes; hash keys are attached
# by the shared batch projection afterwards (doc_hash_keys), NOT computed in
# pandas — one hashing implementation, two surfaces
_OUTPUT_SCHEMA = "conv_id string, doc_text string, n_turns int"
# buffered turns per open conversation; parallel arrays (Spark state rows
# are flat structs — cheaper than one serialized blob per turn)
_STATE_SCHEMA = "idx array<int>, txt array<string>"
# event-time mode also tracks the max event timestamp (epoch ms) seen, the
# anchor for the event-time gap timer
_STATE_SCHEMA_EVENT = "idx array<int>, txt array<string>, max_ts long"


def _emit_doc(key, idx, txt) -> pd.DataFrame:
    """Shared close-session emit for BOTH timeout modes: sort with the
    None-safe key matching Spark's struct ordering exactly —
    array_sort(struct(turn_idx, text)) puts a null text BEFORE any string
    at the same turn_idx (ascending structs order null fields first). A
    plain (idx, txt) key would raise TypeError on a None-vs-str comparison
    (ADVICE r5) AND break byte-parity with batch assembly."""
    order = sorted(
        range(len(idx)),
        key=lambda i: (idx[i], txt[i] is not None, txt[i] or ""),
    )
    doc = TURN_SEPARATOR.join(txt[i] if txt[i] is not None else "" for i in order)
    return pd.DataFrame(
        {"conv_id": [key[0]], "doc_text": [doc], "n_turns": [len(idx)]}
    )


def assemble_session(
    key: Tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_ms: int = 30_000,
) -> Iterator[pd.DataFrame]:
    """The per-conversation state function. Pure Python over pandas
    batches + a GroupState handle, so it is unit-testable without a
    streaming query (tests drive it with a stub state).

    Accumulates (turn_idx, text) while turns keep arriving and re-arms the
    gap timer; on timeout, sorts by (turn_idx, text) — the exact
    ``array_sort(struct(turn_idx, text))`` order of batch assembly — joins
    with the separator, emits ONE document row, and drops the state."""
    if state.hasTimedOut:
        idx, txt = state.get
        out = _emit_doc(key, idx, txt)
        state.remove()
        yield out
        return
    idx, txt = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
    for pdf in pdfs:
        idx.extend(int(i) for i in pdf["turn_idx"])
        txt.extend(None if t is None else str(t) for t in pdf["text"])
    state.update((idx, txt))
    state.setTimeoutDuration(gap_ms)
    return


def assemble_session_event_time(
    key: Tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_ms: int = 30_000,
) -> Iterator[pd.DataFrame]:
    """Event-time variant (VERDICT r5 #5): the session gap is measured on
    the TS COLUMN, not arrival time, so out-of-order and cross-trigger
    turns assemble identically to batch as long as they beat the watermark.

    The timer anchors on the max event ts seen for the conversation; the
    session closes when the stream's watermark passes max_ts + gap. Spark
    requires a timeout timestamp strictly ahead of the current watermark —
    a conversation whose whole buffer is already older than the watermark
    (possible when another partition's events dragged the watermark far
    forward) clamps to watermark + 1 ms so it closes at the next trigger
    instead of raising.

    LATE-DROP POLICY (documented contract): a turn older than the
    watermark never reaches this function — Spark drops it at the stateful
    operator's boundary, exactly the engine's session-window semantics.
    The watermark delay therefore bounds tolerated out-of-orderness; a
    turn arriving within the watermark but after its conversation's gap
    already expired opens a NEW session for that conv_id (two docs, same
    conv) — same as Spark's built-in session_window. Size the watermark
    delay >= the feed's real lateness to make that window empty."""
    if state.hasTimedOut:
        idx, txt, _ = state.get
        out = _emit_doc(key, idx, txt)
        state.remove()
        yield out
        return
    if state.exists:
        idx, txt, max_ts = list(state.get[0]), list(state.get[1]), int(state.get[2])
    else:
        idx, txt, max_ts = [], [], 0
    for pdf in pdfs:
        idx.extend(int(i) for i in pdf["turn_idx"])
        txt.extend(None if t is None else str(t) for t in pdf["text"])
        # drop null ts before the epoch conversion: NaT.astype('int64')
        # raises in pandas 2.x (or poisons the max with the NaT sentinel),
        # and TRANSCRIPTS_SCHEMA allows null ts (ADVICE r6)
        ts = pd.to_datetime(pdf["ts"])
        ts_ms = ts[ts.notna()].astype("int64") // 1_000_000  # ns -> epoch ms
        if len(ts_ms):
            max_ts = max(max_ts, int(ts_ms.max()))
    state.update((idx, txt, max_ts))
    state.setTimeoutTimestamp(
        max(max_ts + gap_ms, state.getCurrentWatermarkMs() + 1)
    )
    return


def sessionize_turns(
    turns: DataFrame,
    config: DedupConfig | None = None,
    gap_ms: int = 30_000,
    event_time_watermark: str | None = None,
) -> DataFrame:
    """streaming turns -> streaming assembled docs (same columns as batch
    ``assemble_docs``). Attach ``writeStream`` and feed the emitted docs
    into the dedup cascade (e.g. via foreachBatch ``process_batch`` with
    pre-assembled docs, or a downstream job).

    ``event_time_watermark`` (e.g. ``"10 seconds"``) switches the gap from
    processing time to EVENT time on the ``ts`` column, with that watermark
    delay bounding tolerated lateness — out-of-order turns within the
    watermark assemble byte-identically to batch; later turns are dropped
    at the operator boundary (see :func:`assemble_session_event_time` for
    the full late-drop contract). Default (None) keeps the processing-time
    gap: sessions close ``gap_ms`` of WALL time after their last arrival,
    the right mode for live feeds whose arrival order ~= event order.

    Exclusion filters (F1) are applied BEFORE grouping, identically to the
    batch path, so excluded roles/tools never enter the state store."""
    config = config or DedupConfig()
    turns = apply_excludes(turns, config)

    if event_time_watermark is not None:

        def fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
            return assemble_session_event_time(key, pdfs, state, gap_ms=gap_ms)

        assembled = (
            turns.withWatermark("ts", event_time_watermark)
            .select("conv_id", "turn_idx", "text", "ts")
            .groupBy("conv_id")
            .applyInPandasWithState(
                fn,
                outputStructType=_OUTPUT_SCHEMA,
                stateStructType=_STATE_SCHEMA_EVENT,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
        return doc_hash_keys(assembled)

    def fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
        return assemble_session(key, pdfs, state, gap_ms=gap_ms)

    assembled = (
        turns.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    return doc_hash_keys(assembled)
