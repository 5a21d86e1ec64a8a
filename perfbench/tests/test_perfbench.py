"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference
from measure import commit_times, file_epochs


def _write_log(path, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 0, "batchId": batch}) + "\n")


def _write_offsets(ckpt, log_offsets: list[int]) -> None:
    (ckpt / "offsets").mkdir(parents=True)
    for batch, off in enumerate(log_offsets):
        (ckpt / "offsets" / str(batch)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{off}}}\n')


def test_file_epochs_reads_through_compaction(tmp_path):
    # source batches 0..12, two files each; batch 9 is compacted into
    # 9.compact and the deltas it replaced are gone, as after cleanup
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entries = {b: [(f"f{b}a.parquet", b), (f"f{b}b.parquet", b)] for b in range(13)}
    _write_log(src / "9.compact", [e for b in range(10) for e in entries[b]])
    for b in (10, 11, 12):
        _write_log(src / str(b), entries[b])
    (src / ".10.crc").write_text("x")  # Spark's checksum files are ignored
    _write_offsets(tmp_path, list(range(13)))
    got = file_epochs(str(tmp_path))
    assert got == {name: b for b in range(13) for name, _ in entries[b]}
    assert got["f12b.parquet"] == 12


def test_file_epochs_skips_no_data_batches(tmp_path):
    # query batch 2 only advanced the watermark: the source log has no
    # batch for it, so later source batches land one query batch later
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    for b in range(4):
        _write_log(src / str(b), [(f"f{b}.parquet", b)])
    _write_offsets(tmp_path, [0, 1, 1, 2, 3])
    assert file_epochs(str(tmp_path)) == {"f0.parquet": 0, "f1.parquet": 1, "f2.parquet": 3, "f3.parquet": 4}


def test_file_epochs_leaves_out_unplanned_files(tmp_path):
    # a file the source listed but no query batch has planned yet
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    _write_log(src / "0", [("f0.parquet", 0)])
    _write_log(src / "1", [("f1.parquet", 1)])
    _write_offsets(tmp_path, [0])
    assert file_epochs(str(tmp_path)) == {"f0.parquet": 0}


def test_commit_times_need_every_sink():
    spans = [
        {"name": "sink.write.errors", "epoch": 0, "end": 1.0},
        {"name": "sink.write.rest", "epoch": 0, "end": 1.5},
        {"name": "sink.write.errors", "epoch": 1, "end": 2.0},  # rest never wrote epoch 1
        {"name": "sink.write.rest", "epoch": 2, "start": 2.5},  # still running
        {"name": "sink.commit.write_json_atomic", "epoch": 0, "end": 9.0},
    ]
    assert commit_times(spans) == {0: 1.5}


def _sink(root, epoch: int, df: pd.DataFrame) -> None:
    data = root / "data" / f"epoch={epoch}" / "prefix=x"
    data.mkdir(parents=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), data / "part-0.parquet")
    (root / "_epochs").mkdir(exist_ok=True)
    (root / "_epochs" / f"{epoch}.json").write_text(json.dumps({"path": str(root / "data" / f"epoch={epoch}")}))


def _truth():
    return pd.DataFrame({"conv_id": ["c"] * 4, "turn_idx": [0, 1, 2, 3], "k": [5, 6, 7, 8],
                         "has_error": [False, True, False, False]})


def _rows(idx, kval, text="ok"):
    return pd.DataFrame({"conv_id": ["c"] * len(idx), "turn_idx": pd.array(idx, "int32"),
                         "text": [text] * len(idx), "kval": kval})


def test_drain_check_counts_uncommitted_and_wrong_turns(tmp_path):
    sinks = tmp_path / "sinks"
    _sink(sinks / "rest", 0, _rows([0, 2], ["5", "7"]))
    _sink(sinks / "errors", 0, _rows([1], ["6"]))
    assert reference.check_drain(_truth(), str(sinks)) == (4, 1)  # turn 3 missing

    # data files of an epoch without a marker are not committed output
    data = sinks / "rest" / "data" / "epoch=1" / "prefix=x"
    data.mkdir(parents=True)
    pq.write_table(pa.Table.from_pandas(_rows([3], ["8"]), preserve_index=False), data / "p.parquet")
    assert reference.check_drain(_truth(), str(sinks)) == (4, 1)

    _sink(sinks / "rest", 2, _rows([3], ["9"], text="mail u1@example.com"))
    assert reference.check_drain(_truth(), str(sinks)) == (4, 1)  # wrong k, e-mail left


def test_drain_check_catches_duplicates_and_misroutes(tmp_path):
    sinks = tmp_path / "sinks"
    _sink(sinks / "rest", 0, _rows([0, 1, 2, 3], ["5", "6", "7", "8"]))  # 1 belongs in errors
    _sink(sinks / "errors", 0, _rows([0], ["5"]))  # 0 twice
    assert reference.check_drain(_truth(), str(sinks)) == (4, 2)


def test_cep_check_against_duckdb_twin():
    truth = pd.DataFrame({
        "conv_id": ["x"] * 4 + ["y"] * 2,
        "turn_idx": [0, 1, 2, 3, 0, 1],
        "role": ["user", "tool", "tool", "user", "user", "assistant"],
    })
    good = [["x", 4, 1, 1], ["y", 2, 0, -1]]
    assert reference.check_cep(truth, good, "ttu") == (2, 0)
    assert reference.check_cep(truth, [["x", 3, 0, -1], ["y", 2, 0, -1]], "ttu") == (2, 1)


def _digest(d: str) -> dict[str, str]:
    return {n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest() for n in sorted(os.listdir(d))}


def test_generator_is_deterministic_per_seed(tmp_path):
    def build(seed: int, out: str) -> dict:
        cols = gen.make_turns(seed, 3000)
        gen.write_files(cols, [(os.path.join(out, f"p{i}.parquet"), i * 1000, (i + 1) * 1000) for i in range(3)])
        return _digest(out)

    a = build(7, str(tmp_path / "a"))
    assert a == build(7, str(tmp_path / "b"))
    assert a != build(8, str(tmp_path / "c"))


def test_generator_shape():
    cols = gen.make_turns(3, 20000)
    assert len(cols["conv_id"]) == 20000
    turns = pd.DataFrame({"c": cols["conv_id"], "t": cols["turn_idx"], "ts": cols["ts"]})
    # turn_idx is 0..n-1 per conversation, every turn exactly once
    g = turns.sort_values(["c", "t"]).groupby("c")
    assert (g["t"].apply(lambda s: list(s) == list(range(len(s))))).all()
    # the fixture's hot conversation holds 10% of the turns
    assert turns.groupby("c").size().max() >= 0.1 * len(turns)
    # rows arrive in event-time order; late-shifted turns overtake later
    # turns of their conversation, by at most 120 s of event time
    assert turns["ts"].is_monotonic_increasing
    assert 0.02 < cols["out_of_order"].mean() < 0.05
    for c, t, ts in turns[cols["out_of_order"]].head(50).itertuples(index=False):
        nxt = turns[(turns["c"] == c) & (turns["t"] == t + 1)]["ts"]
        assert nxt.empty or (ts - nxt.iloc[0]) <= pd.Timedelta(seconds=120)
    assert 0.09 < cols["has_error"].mean() < 0.11
    assert all(("error" in x) == e for x, e in zip(cols["text"], cols["has_error"]))
    assert all(f"k={k}" in x for x, k in zip(cols["text"][:500], cols["k"][:500]))
