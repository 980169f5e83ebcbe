"""Round-6 batch-11 test: the streaming attribution must equal the
batch attribution EXACTLY (same rows, same numbers) — the stream-batch
equivalence contract, with per-user state carrying clicks across
micro-batch boundaries."""

from __future__ import annotations

from i2mapreduce_spark.queries.windows_q import q_window_attribution
from i2mapreduce_spark.queries.streaming_q import q_stream_attribution


def test_stream_attribution_equals_batch(spark, sf_dir):
    batch = {r["day"]: (r["n_purchases"], r["n_attributed"],
                        r["attributed_revenue"], r["attach_pm"])
             for r in q_window_attribution(spark, sf_dir).collect()}
    stream = {r["day"]: (r["n_purchases"], r["n_attributed"],
                         r["attributed_revenue"], r["attach_pm"])
              for r in q_stream_attribution(spark, sf_dir).collect()}
    assert stream == batch
    assert sum(v[1] for v in batch.values()) > 0   # attribution fires
    # cross-batch state matters: at least one purchase's credited click
    # must live in an EARLIER third of the stream (chunk boundary), else
    # this test wouldn't exercise the preserved state at all.  The
    # equality above already proves it transferred correctly; here we
    # just confirm the fixture exercises the path.
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["user_id", "event_id", "event_type", "ts"])
    e = e.sort_values(["ts", "event_id"], ignore_index=True)
    n = len(e)
    chunk_of = lambda i: min(2, 3 * i // n)  # noqa: E731
    crossers = 0
    for _, g in e.groupby("user_id"):
        last_click_pos = None
        for pos, row in g.iterrows():
            if row.event_type == "click":
                last_click_pos = pos
            elif row.event_type == "purchase" and last_click_pos is not None:
                if chunk_of(last_click_pos) != chunk_of(pos):
                    crossers += 1
    assert crossers > 0
