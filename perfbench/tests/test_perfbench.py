"""The benchmark's own checks: input determinism, the reference oracle
against the engine, the event-log reader and the percentile rule.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

import gen
import oracle
import tables
from map_reduce_indexing_spark.schemas import FIXTURE_TABLES
from tracing import Counters, Tracer, read_event_log, tail_percentile


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_generator_is_deterministic(tmp_path):
    a = gen.make_corpus(5, str(tmp_path / "a"), 200_000, 8, 3_000)
    b = gen.make_corpus(5, str(tmp_path / "b"), 200_000, 8, 3_000)
    c = gen.make_corpus(6, str(tmp_path / "c"), 200_000, 8, 3_000)
    assert _files(a.root) == _files(b.root)
    assert a.digest() == b.digest() != c.digest()
    assert all(v.isascii() for v in _files(a.root).values())
    assert gen.query_stream(5, a.words, 3) == gen.query_stream(5, b.words, 3)
    assert gen.append_batch(5, a.words, 2, 3, 5_000) == gen.append_batch(5, b.words, 2, 3, 5_000)
    assert gen.delete_pick(5, ["x", "y", "z"], 1, 2) == gen.delete_pick(5, ["z", "y", "x"], 1, 2)
    # the edge cases of SURVEY.md §0.1 are in the text
    text = "".join(d.text for d in a.docs)
    for piece in (gen.PROBE_LINE, "\t", "  ", "\n\n", "42 ", "-- "):
        assert piece in text


def test_fixture_tables_are_deterministic(tmp_path):
    a = tables.write_tables(3, str(tmp_path / "a"))
    tables.write_tables(3, str(tmp_path / "b"))
    tables.write_tables(4, str(tmp_path / "c"))
    assert set(a) == set(FIXTURE_TABLES)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b")) != _files(str(tmp_path / "c"))
    docs = tables.make_tables(3)["documents"].to_pydict()["text"]
    assert sum(t.endswith(" dup") for t in docs) >= 20  # near-duplicates for dedup


def test_query_stream_opens_with_every_op():
    words = gen.vocabulary(1, 500)
    stream = gen.query_stream(1, words, 2)
    assert len(stream) == len(gen.QUERY_MIX) + 2 * gen.ROUND
    assert [op for op, _ in stream[: len(gen.QUERY_MIX)]] == list(gen.QUERY_MIX)
    first_round = [op for op, _ in stream[len(gen.QUERY_MIX): len(gen.QUERY_MIX) + gen.ROUND]]
    assert {op: first_round.count(op) for op in gen.QUERY_MIX} == gen.QUERY_MIX


def test_model_applies_the_reference_rules():
    m = oracle.PostingsModel()
    m.add("d1", gen.PROBE_LINE)
    assert dict((w, ds["d1"]) for w, ds in m.postings.items()) == {
        "dont": 1, "stop": 1, "timescatdog": 1, "cat": 1,
    }
    m.add("d2", "cat cat dog\n")
    assert m.expect("lookup", ["Cat"]) == [("d1", 1), ("d2", 2)]
    assert m.expect("top_docs", ["cat"]) == [("d2", 2), ("d1", 1)]
    assert m.expect("and", ["cat", "dog"]) == ["d2"]
    assert m.expect("not", ["cat", "dog"]) == ["d1"]
    m.delete(["d2"])
    assert m.expect("or", ["cat", "dog"]) == ["d1"]


def test_shell_oracle_and_engine_agree(tmp_path, monkeypatch):
    from map_reduce_indexing_spark.api import IndexSession
    from map_reduce_indexing_spark.session import get_spark

    docs = [
        gen.Doc("poems", "probe", gen.PROBE_LINE),
        gen.Doc("poems", "caps", "THE Cat sat.\n\nthe  cat, the HAT!\t-- 42\n"),
        gen.Doc("prose", "edge", "it's o'clock\ncat-dog cat4dog 1999 ...\n"),
    ]
    root = str(tmp_path / "corpus")
    gen.write_tree(root, docs)
    expected, _ = oracle.shell_postings(
        [(d.doc_id, os.path.join(root, d.collection, d.doc_id + ".txt")) for d in docs],
        str(tmp_path / "shell"),
    )
    model = oracle.PostingsModel()
    for d in docs:
        model.add(d.doc_id, d.text)
    assert len(expected) == model.n_postings()
    assert set(expected["word"]) == set(model.postings)

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    spark = get_spark(driver_memory="1g")
    index = str(tmp_path / "index")
    IndexSession.build(spark, os.path.join(root, "*", "*"), index)
    assert oracle.index_digest(index) == oracle.frame_digest(expected)


@pytest.mark.xfail(strict=True, reason="delete_rows_dv names rows by file basename, which letter= directories repeat")
def test_dv_delete_keeps_other_documents(tmp_path, monkeypatch):
    """A deletion-vector delete removes exactly the named documents'
    postings. It does not on the current package, so the benchmark's
    maintenance cycle deletes copy-on-write (README.md, "Known defect")."""
    from map_reduce_indexing_spark.api import IndexSession
    from map_reduce_indexing_spark.session import get_spark

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    spark = get_spark(driver_memory="1g")
    corpus = gen.make_corpus(7, str(tmp_path / "corpus"), 300_000, 8, 3_000)
    index = str(tmp_path / "index")
    IndexSession.build(spark, corpus.glob, index)
    names = [f for _, _, fs in os.walk(index) for f in fs if f.endswith(".parquet")]
    assert len(set(names)) < len(names)  # a basename in more than one letter= directory
    idx = IndexSession(spark, index)
    before = {(r["word"], r["doc_id"]) for r in idx.postings().collect()}
    victim = corpus.docs[0].doc_id
    idx.delete_docs([victim], mode="dv")
    after = {(r["word"], r["doc_id"]) for r in IndexSession(spark, index).postings().collect()}
    assert after == {p for p in before if p[1] != victim}


def _event(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def test_event_log_reader_counts_per_group(tmp_path):
    def task(stage, cpu_ns, shuffle_w, inp, out):
        return _event(
            "SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {
                "Executor Run Time": 5, "Executor CPU Time": cpu_ns,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Input Metrics": {"Bytes Read": inp, "Records Read": 10},
                "Output Metrics": {"Bytes Written": out, "Records Written": 3},
            }},
        )

    props = lambda g: {"Properties": {"spark.jobGroup.id": g}} if g else {}  # noqa: E731
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0}, **props("op000001")),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}}, **props("op000001")),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}, **props("op000001")),
        task(0, 2_000_000, 100, 1000, 0),
        task(0, 2_000_000, 100, 1000, 0),
        task(1, 1_000_000, 0, 0, 50),
        _event("SparkListenerJobStart", **{"Job ID": 1}, **props("op000002")),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}, **props("op000002")),
        task(2, 4_000_000, 0, 7, 0),
        _event("SparkListenerJobStart", **{"Job ID": 2}),  # untagged: ignored
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 3}}),
        task(3, 9_000_000, 9, 9, 9),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(lines) + "\n")
    g = read_event_log(str(log))
    assert set(g) == {"op000001", "op000002"}
    a = g["op000001"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert a["cpu_ms"] == pytest.approx(5.0)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"]) == (200, 9)
    assert (a["input_bytes"], a["input_records"], a["output_bytes"], a["output_records"]) == (2000, 30, 50, 9)
    assert (g["op000002"]["jobs"], g["op000002"]["tasks"], g["op000002"]["input_bytes"]) == (1, 1, 7)

    # a parent span's counters include its children's groups
    tr = Tracer()
    with tr.span("parent") as parent:
        with tr.span("child"):
            pass
    assert Counters(tr, g).of(parent)["tasks"] == 4
    assert 0 <= tr.self_seconds(parent) <= parent.seconds


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs, 0.9) == 90.0  # 10 samples beyond it
    with pytest.raises(ValueError):
        tail_percentile(xs[:99], 0.9)  # 9 beyond
    with pytest.raises(ValueError):
        tail_percentile(xs, 0.95)
    assert tail_percentile(xs[:20], 0.5) == 10.0
