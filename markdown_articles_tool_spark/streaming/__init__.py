"""Incremental processing.

The reference has no streaming concept (SURVEY.md §2.7); incremental
semantics in this engine are batch-incremental (checkpoint.py).  This
package adds the Structured-Streaming ingest shape for corpora that
arrive continuously (new parquet files landing in a directory).
"""

import os


def append_parquet(df, output_dir: str, table: str, checkpoint: str):
    """Start ``df``'s stream into the append-only parquet table
    ``output_dir/table``, checkpointed in ``output_dir/checkpoint``; the
    ``availableNow`` trigger drains the files landed so far, then stops.
    Returns the StreamingQuery."""
    return (
        df.writeStream.format('parquet')
        .option('path', os.path.join(output_dir, table))
        .option('checkpointLocation', os.path.join(output_dir, checkpoint))
        .outputMode('append')
        .trigger(availableNow=True)
        .start()
    )
