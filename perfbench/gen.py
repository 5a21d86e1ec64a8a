"""Seeded input generator for the streaming benchmark.

The turns come from the repository's transcripts fixture,
``vaero_spark.testing.fixtures.make_transcripts_pdf``, in the canonical
shape FIXTURES.md documents: Zipf conversation sizes with one hot
conversation holding ~10% of the turns, ~5% of turns shifted late by
1–120 s of event time, an e-mail in every 7th text, a ``k=`` fragment in
every text. The benchmark asks it for no duplicates (``dup_frac=0``:
every turn is expected exactly once downstream) and for hashed roles
(``role_mode="hash"``: cycled roles never repeat one, so the ``ttu`` CEP
pattern could never match), with a mean of ``TURNS_PER_CONV`` turns per
conversation as in the fixture's defaults (6,000 turns, 200
conversations).

On top of that the benchmark adds only an ``error`` marker
(``ERROR_SHARE`` of the turns, its own seeded stream) so the error/rest
routing of ``drain`` has two non-empty branches. Long numbers need no
fragment: every text names its ``conv-NNNNNN`` id, six digits the
number mask replaces.

Rows arrive in event-time order, as ``write_transcripts_parquet`` lays a
stream out; a late-shifted turn therefore arrives after later turns of
its conversation, by at most 120 s, well inside the 10-minute watermark.
They are split into files whose mtimes rise by one second, because
Spark's file source picks files oldest first. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TURNS_PER_CONV = 30
ERROR_SHARE = 0.10
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def make_turns(seed: int, n_turns: int) -> dict:
    """Columns of ``n_turns`` turns in arrival order, plus the ground
    truth the reference checks need (``k``, ``has_error``) and which
    turns arrive after a later turn of their conversation."""
    from vaero_spark.testing.fixtures import make_transcripts_pdf

    pdf = make_transcripts_pdf(
        n_turns=n_turns,
        n_convs=max(2, n_turns // TURNS_PER_CONV),
        seed=seed,
        dup_frac=0.0,
        role_mode="hash",
    )
    has_error = np.random.default_rng([seed, 1]).random(len(pdf)) < ERROR_SHARE
    pdf["text"] = pdf["text"].where(~has_error, pdf["text"] + " error")
    pdf["k"] = pdf["text"].str.extract(r" k=(\d+)", expand=False).astype("int64")
    pdf["has_error"] = has_error
    pdf = pdf.iloc[np.argsort(pdf["ts"].to_numpy(), kind="stable")].reset_index(drop=True)
    pdf["out_of_order"] = _out_of_order(pdf["conv_id"], pdf["turn_idx"])
    return {c: pdf[c].to_numpy() for c in pdf.columns}


def _out_of_order(conv_id, turn_idx) -> np.ndarray:
    """True for a turn that arrives after a later turn of its conversation."""
    import pandas as pd

    df = pd.DataFrame({"c": conv_id, "t": turn_idx.astype(np.int64)})
    prev_max = df.groupby("c")["t"].cummax().groupby(df["c"]).shift(1)
    return (df["t"] < prev_max.fillna(-1)).to_numpy()


def to_table(cols: dict, lo: int = 0, hi: int | None = None) -> pa.Table:
    """The transcripts columns of rows ``[lo, hi)`` as an Arrow table."""
    sl = slice(lo, hi)
    return pa.table(
        {
            "conv_id": pa.array(cols["conv_id"][sl], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"][sl], pa.int32()),
            "role": pa.array(cols["role"][sl], pa.string()),
            "text": pa.array(cols["text"][sl], pa.string()),
            "tool": pa.array(cols["tool"][sl], pa.string()),
            # the fixture's ts is naive UTC
            "ts": pa.array(cols["ts"][sl].astype("datetime64[us]").astype(np.int64),
                           pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def write_files(cols: dict, files: list[tuple[str, int, int]], mtime0: float = 1_700_000_000.0) -> None:
    """Write rows ``[lo, hi)`` to each ``path``; mtimes rise one second
    per file in list order."""
    for i, (path, lo, hi) in enumerate(files):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(to_table(cols, lo, hi), path, compression="snappy")
        os.utime(path, (mtime0 + i, mtime0 + i))
