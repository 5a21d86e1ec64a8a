"""Independent reference checks behind ``ops_ok_frac``.

None of these runs the streaming path under test: they compare the
program's committed outputs with the generator's ground truth
(``truth.parquet``), using pandas, pyarrow and DuckDB only. Each returns
``(attempted, failed)`` in the workload's unit: a turn for ``drain``, a
conversation for ``cep``.
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pyarrow.parquet as pq

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")


def committed_sink_rows(sink_root: str) -> pd.DataFrame:
    """Rows of every epoch whose commit marker exists, read straight from
    the parquet files under the marker's epoch directory."""
    frames = []
    marker_dir = os.path.join(sink_root, "_epochs")
    for name in sorted(os.listdir(marker_dir)) if os.path.isdir(marker_dir) else []:
        if not name.endswith(".json"):
            continue
        with open(os.path.join(marker_dir, name)) as f:
            manifest = json.load(f)
        for dirpath, _, files in os.walk(manifest["path"]):
            for fn in files:
                if fn.endswith(".parquet"):
                    t = pq.read_table(os.path.join(dirpath, fn), columns=["conv_id", "turn_idx", "text", "kval"])
                    frames.append(t.to_pandas())
    cols = ["conv_id", "turn_idx", "text", "kval"]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=cols)


def check_drain(truth: pd.DataFrame, sinks_dir: str) -> tuple[int, int]:
    """Every generated ``(conv_id, turn_idx)`` appears exactly once across
    both sinks, in the sink its ``error`` flag routes it to, with no
    e-mail left in its text and ``kval`` equal to the generated ``k``."""
    parts = []
    for name in ("errors", "rest"):
        df = committed_sink_rows(os.path.join(sinks_dir, name))
        df["sink"] = name
        parts.append(df)
    out = pd.concat(parts, ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int64")
    copies = out.groupby(["conv_id", "turn_idx"]).size().rename("copies").reset_index()
    first = out.drop_duplicates(["conv_id", "turn_idx"])
    t = truth[["conv_id", "turn_idx", "k", "has_error"]].copy()
    t["turn_idx"] = t["turn_idx"].astype("int64")
    m = t.merge(copies, on=["conv_id", "turn_idx"], how="left").merge(
        first, on=["conv_id", "turn_idx"], how="left"
    )
    ok = (
        (m["copies"] == 1)
        & (m["sink"] == m["has_error"].map({True: "errors", False: "rest"}))
        & ~m["text"].fillna("@").str.contains(EMAIL)
        & (pd.to_numeric(m["kval"], errors="coerce") == m["k"])
    )
    stray = len(copies.merge(t, on=["conv_id", "turn_idx"], how="left", indicator=True).query("_merge == 'left_only'"))
    return len(t) + stray, int((~ok).sum()) + stray


def check_cep(truth: pd.DataFrame, rows: list, literal: str) -> tuple[int, int]:
    """The last emission per conversation equals the batch twin
    ``cep_match_sql`` run in DuckDB; a conversation without a match must
    end with zero matches, ``first_match_turn`` −1 and all its turns."""
    import duckdb

    from vaero_spark.operators.cep import cep_match_sql

    con = duckdb.connect()
    try:
        con.register("turns", truth[["conv_id", "turn_idx", "role"]])
        sql = con.execute(cep_match_sql("turns", literal)).df()
    finally:
        con.close()
    lengths = truth.groupby("conv_id").size()
    want = {c: (int(n), 0, -1) for c, n in lengths.items()}
    for c, n, m, first in sql.itertuples(index=False):
        want[c] = (int(n), int(m), int(first))
    got = {c: (int(n), int(m), int(first)) for c, n, m, first in rows}
    convs = set(want) | set(got)
    return len(convs), sum(want.get(c) != got.get(c) for c in convs)
