"""Custom stateful streaming operator: cross-micro-batch exact dedup
with ``applyInPandasWithState``.

The batch engine dedups with a global groupBy; on an unbounded stream
of landing pages that aggregate never closes.  This operator keeps a
per-content-key GroupState ("already emitted?") in the state store, so
each distinct text is emitted exactly once across ALL micro-batches of
the stream — the first-writer-wins contract of the batch pipeline
(canonical min-url winner inside a batch), carried across time and
restarts by the streaming checkpoint.

Scale shape: state is one boolean + one string per distinct content
key, hash-partitioned by the groupBy — the text itself never enters
state.  At 10^12 docs the state store is the dedup index; RocksDB
state backend on a real cluster, NoTimeout (corpus dedup never
expires; a TTL'd variant is one argument away).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import corpus
from . import append_parquet

OUTPUT_SCHEMA = 'content_key string, url string, text string'
STATE_SCHEMA = 'seen boolean, first_url string'


def _dedup_fn(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists and state.get[0]:
        # content already emitted in an earlier micro-batch: drop all
        for _ in pdfs:
            pass
        return
    dfs = list(pdfs)
    if not dfs:
        # NoTimeout never invokes without data today, but a TTL'd
        # timeoutConf would — guard before concat (pd.concat raises on
        # an empty list)
        return
    batch = pd.concat(dfs, ignore_index=True)
    if not len(batch):
        return
    # deterministic first-wins inside the batch: minimum url
    row = batch.sort_values('url').iloc[0]
    state.update((True, row['url']))
    yield pd.DataFrame(
        [(key[0], row['url'], row['text'])], columns=['content_key', 'url', 'text']
    )


def dedup_stream(pages):
    """Streaming frame (url, text) → exactly-once-per-content rows.

    The content key is ``sha2(text, 256)`` — the same 256-bit digest the
    batch image dedup keys on.  A 64-bit key (xxhash64) would see
    birthday collisions at ~sqrt(2^64)≈4×10^9 distinct docs — at the
    stated 10^12-doc design scale that is tens of thousands of silently
    dropped distinct documents; 256 bits pushes the first expected
    collision past 10^38 docs.  State stays tiny: one 64-char hex key +
    a boolean + the winner url per distinct content.

    COMPATIBILITY (r4 key change): pre-r4 runs keyed state on
    ``xxhash64(text)`` (a *long*).  Spark's state store pins the
    grouping-key schema at checkpoint creation, so restarting a pre-r4
    query against this code fails with a state-schema mismatch, and
    appending to a parquet sink written under the old
    ``content_key long`` schema fails the same way.  There is no
    in-place migration (the old key cannot be inverted to recompute the
    digest): point the restarted query at a FRESH ``checkpointLocation``
    and a fresh output directory, and re-feed the source from the
    beginning (exactly-once semantics make the replay safe).  This
    mirrors the staged-shard compat rule in ``checkpoint.py``.
    """
    keyed = pages.select(
        F.sha2('text', 256).alias('content_key'), 'url', 'text'
    )
    return keyed.groupBy('content_key').applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode='append',
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_stateful_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the stream; each distinct text lands in the output table
    exactly once, no matter how many files/batches repeat it."""
    reader = spark.readStream.schema(corpus.PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option('maxFilesPerTrigger', max_files_per_trigger)
    stream = reader.parquet(input_dir).select('url', 'text')
    return append_parquet(dedup_stream(stream), output_dir, 'deduped', '_dedup_checkpoint')
