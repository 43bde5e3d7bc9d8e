"""Tests of the benchmark itself: generator, oracle, metric names, and a
tiny smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO]

import envelopes  # noqa: E402
import layers  # noqa: E402
import run as bench_run  # noqa: E402


def _rows(stream):
    return [[e.kafka_row() for e in b] for b in stream.batches]


def test_generator_is_deterministic_per_seed():
    a = envelopes.generate(7, 300, 100, 4, 50)
    b = envelopes.generate(7, 300, 100, 4, 50)
    c = envelopes.generate(8, 300, 100, 4, 50)
    assert _rows(a) == _rows(b)
    assert _rows(a) != _rows(c)


def test_generator_shape():
    s = envelopes.generate(1, 300, 200, 3, 40)
    assert [len(b) for b in s.batches] == [300, 240, 200, 200]
    assert s.batches[1][:40] == s.batches[0][-40:]
    tail = [e for b in s.batches[1:] for e in b[40 if b is s.batches[1] else 0:]]
    assert {e.op for e in tail} == {"c", "u", "d"}
    assert 0.1 < sum(e.op == "d" for e in tail) / len(tail) < 0.3
    assert {e.partition for e in tail} == {0, 1}
    assert sum(not envelopes.is_valid(e.after) for e in tail if e.after) == 2 * 3
    fresh = [e for b in s.batches[1:] for e in b[40 if b is s.batches[1] else 0:]
             if e.table == "employees" and e.op == "c" and envelopes.is_valid(e.after)]
    assert fresh and all("role" in e.after and "salary" not in e.after for e in fresh)
    assert not any("role" in e.after for e in s.batches[0])


def _ev(op, key, after, offset, table="tickets", partition=0):
    return envelopes.Event(table, op, key, None, after, 1_722_900_000_000 + offset,
                           partition, offset)


def test_oracle_replays_a_tiny_stream():
    t = {"id": 1, "title": "a b", "priority": 2, "status": "open",
         "created_on": 1_722_900_000_999}
    o = envelopes.Oracle()
    o.apply([_ev("r", 1, t, 0), _ev("r", 2, dict(t, id=2), 1)])
    assert o.expected("tickets")[0] == 2 and o.sink_rows("tickets") == 2
    cols = o.cols["tickets"]
    assert cols == ["created_on", "id", "priority", "status", "title"]
    assert envelopes.row_crc(cols, t) == __import__("zlib").crc32(b"1722900000|1|2|open|a b")
    appended = o.apply([
        _ev("r", 2, dict(t, id=2), 1),                       # re-delivered: skipped
        _ev("u", 1, dict(t, status="closed"), 2),            # update
        _ev("c", 3, dict(t, id=3, priority="n/a"), 3),       # uncastable: DLQ
        _ev("d", 2, None, 4),                                # delete
        _ev("c", 4, dict(t, id=4, tag="x"), 5),              # new column
    ])
    assert appended == 2
    assert o.dlq_rows == 1
    assert o.cols["tickets"][-1] == "title" and "tag" in o.cols["tickets"]
    live, h = o.expected("tickets")
    assert live == 2
    want = [dict(t, status="closed"), dict(t, id=4, tag="x")]
    assert h == sum(envelopes.row_crc(o.cols["tickets"], r) for r in want)
    assert o.sink_rows("tickets") == 3  # key 1 twice, key 4 once
    assert o.schema_changes == 2


def test_metric_names_and_counts():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len(names) == len(set(names))
    assert 1 <= len(bench["end_to_end"]) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    assert [m["name"] for m in bench["end_to_end"]] == list(bench_run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def _smoke(monkeypatch, tmp_path, capsys, workload, trace):
    import analytics_mix
    import cdc_ingest

    monkeypatch.setattr(cdc_ingest, "SNAPSHOT_ROWS", 300)
    monkeypatch.setattr(cdc_ingest, "BATCH_EVENTS", 120)
    monkeypatch.setattr(cdc_ingest, "TAIL_BATCHES", 3)
    monkeypatch.setattr(cdc_ingest, "REDELIVER", 30)
    monkeypatch.setattr(analytics_mix, "SF", 0.001)
    monkeypatch.setattr(analytics_mix, "N_DOCS", 100)
    monkeypatch.setattr(analytics_mix, "N_VECS", 100)
    monkeypatch.chdir(tmp_path)
    assert bench_run.main(["--workload", workload, "--seed", "3", "--seconds", "0.1",
                           "--trace", str(trace)]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = layers.PER_LAYER if trace else bench_run.E2E_UNITS
    assert {n: m["unit"] for n, m in res["metrics"].items()} == want
    assert os.listdir(tmp_path / ".perfbench") == (["traces"] if trace else [])
    # the JVM and everything it started have ended, not only the session
    assert bench_run.descendants(os.getpid()) == []
    return res["metrics"]


@pytest.mark.parametrize("trace", [0, 1])
def test_cdc_ingest_smoke(monkeypatch, tmp_path, capsys, trace):
    m = _smoke(monkeypatch, tmp_path, capsys, "cdc_ingest", trace)
    if trace:
        assert m["cdc.jobs_per_batch"]["value"] > 0
        # batch 1 (warm-up) and every timed batch carry their poison rows
        assert m["cdc.dlq_rows"]["value"] == envelopes.BAD_PER_BATCH * (
            1 + m["cdc.window_batches"]["value"])
        assert m["cdc.replay_skipped_rows"]["value"] == 30
        assert m["exec.sql.jobs"]["value"] == 0
    else:
        assert m["class_b_p50_s"]["value"] > m["class_a_p50_s"]["value"] > 0


def test_analytics_mix_smoke(monkeypatch, tmp_path, capsys):
    m = _smoke(monkeypatch, tmp_path, capsys, "analytics_mix", 1)
    assert m["exec.sql.jobs"]["value"] > 0 and m["similarity.calls"]["value"] > 0
    assert m["cdc.jobs_per_batch"]["value"] == 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cdc_ingest",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180,
                       env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0 and '"correct"' not in p.stdout
