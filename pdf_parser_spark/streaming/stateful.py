"""Custom stateful streaming operator: per-conversation extraction progress.

The reference has no streaming at all (SURVEY.md §2.11); the batch mandate
is served by lineage resume. This is the idiomatic Spark shape for the one
genuinely stateful need an append-only transcripts feed creates: turns of a
conversation arrive across micro-batches, and a consumer wants the
LIVE cumulative per-conversation rollup (turns seen, failures, extracted
chars, max turn index) without re-scanning history.

Implemented with ``applyInPandasWithState`` — the custom-stateful-operator
API: state is a per-key tuple in the state store (checkpointed, so an
AvailableNow restart resumes exactly where it stopped), each micro-batch
folds its group's rows into the state and emits the updated rollup row.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import drop_zip_finders, ship_package

__all__ = [
    "PROGRESS_SCHEMA",
    "DEDUP_SCHEMA",
    "conversation_progress",
    "streaming_exact_dedup",
]

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_fail", T.LongType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
        T.StructField("max_turn_idx", T.IntegerType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_fail", T.LongType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
        T.StructField("max_turn_idx", T.IntegerType(), False),
    ]
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, f, c, m = state.get
    else:
        n, f, c, m = 0, 0, 0, -1
    for pdf in pdfs:
        n += len(pdf)
        f += int((~pdf["extraction_ok"].astype(bool)).sum())
        c += int(pdf["extracted_text"].str.len().fillna(0).sum())
        m = max(m, int(pdf["turn_idx"].max()))
    state.update((n, f, c, m))
    drop_zip_finders()
    yield pd.DataFrame(
        [
            {
                "conv_id": key[0],
                "n_turns": n,
                "n_fail": f,
                "chars_extracted": c,
                "max_turn_idx": m,
            }
        ]
    )


def conversation_progress(extracted: DataFrame) -> DataFrame:
    """extracted streaming DataFrame (pipeline.RESULT_SCHEMA columns) →
    streaming rollup emitting one updated row per conversation per
    micro-batch that touched it. State lives in the state store keyed by
    conv_id — at cluster scale the store is partitioned with the stream,
    so a hot conversation costs one key, not a shuffle of history."""
    ship_package(extracted.sparkSession)
    return extracted.groupBy("conv_id").applyInPandasWithState(
        _update,
        outputStructType=PROGRESS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------ streaming exact dedup ---

DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("content_md5", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
)

_DEDUP_STATE = T.StructType([T.StructField("seen", T.BooleanType(), False)])


def _dedup_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    first = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        cand = pdf.sort_values(["conv_id", "turn_idx"]).iloc[0]
        if first is None or (str(cand["conv_id"]), int(cand["turn_idx"])) < (
            str(first["conv_id"]),
            int(first["turn_idx"]),
        ):
            first = cand
    drop_zip_finders()
    if state.exists or first is None:
        return  # hash already claimed by an earlier micro-batch
    state.update((True,))
    yield pd.DataFrame(
        [
            {
                "content_md5": key[0],
                "conv_id": str(first["conv_id"]),
                "turn_idx": int(first["turn_idx"]),
            }
        ]
    )


def streaming_exact_dedup(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming counterpart of D1 (operators/dedup.exact_dedup): exact
    content dedup over an append-only turn stream, first ARRIVAL wins.

    The batch operator's deterministic first-wins needs a global
    (conv_id, turn_idx) Window over the whole corpus; a stream trades that
    for checkpointed per-hash state: the first micro-batch to present a
    given md5(text) claims it (ties inside one micro-batch broken by
    (conv_id, turn_idx), so a single-batch run IS the batch semantics),
    and every later arrival of the same hash emits nothing. State is one
    boolean per distinct hash in the state store — partitioned with the
    stream, checkpointed, so an AvailableNow restart neither re-emits nor
    re-claims. Emits one (content_md5, conv_id, turn_idx) claim row per
    novel hash per micro-batch; consumers anti-join their payload stream
    against the claims to materialize survivors.
    """
    ship_package(turns.sparkSession)
    hashed = turns.select(
        F.md5(F.col(text_col)).alias("content_md5"), "conv_id", "turn_idx"
    )
    return hashed.groupBy("content_md5").applyInPandasWithState(
        _dedup_update,
        outputStructType=DEDUP_SCHEMA,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
