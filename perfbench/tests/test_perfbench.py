"""Tests of the benchmark's own code: seeded generators, the output
checks (each must reject a corrupted output), spans, and the launcher.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import subprocess
import sys

import pytest

import checks
import gen
import workloads
from conftest import BENCH, ROOT
from spans import Tracer


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


# -- generators ---------------------------------------------------------------

@pytest.mark.parametrize("zipf_a", [None, 1.3])
def test_same_seed_gives_identical_events(tmp_path, zipf_a):
    a, b, c = (str(tmp_path / n / "events.parquet") for n in "abc")
    ta = gen.write_events(a, 3000, 500, seed=7, zipf_a=zipf_a)
    tb = gen.write_events(b, 3000, 500, seed=7, zipf_a=zipf_a)
    gen.write_events(c, 3000, 500, seed=8, zipf_a=zipf_a)
    assert _bytes(a) == _bytes(b)
    assert ta == tb
    assert _bytes(a) != _bytes(c)


def test_same_seed_gives_identical_documents(tmp_path):
    a, b, c = (str(tmp_path / n / "documents.parquet") for n in "abc")
    ta = gen.write_documents(a, 400, seed=3)
    tb = gen.write_documents(b, 400, seed=3)
    gen.write_documents(c, 400, seed=4)
    assert _bytes(a) == _bytes(b)
    assert ta == tb
    assert _bytes(a) != _bytes(c)


def test_events_have_unique_commit_order_and_a_click_last(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    truth = gen.write_events(path, 2000, 100, seed=1, zipf_a=1.3)
    t = pq.read_table(path).to_pandas()
    assert t["ts"].is_unique and t["event_id"].is_unique
    last = t.loc[t["ts"].idxmax()]
    assert last["event_type"] == "click"
    assert int(last["ts"].value // 1000) == truth.max_commit_ts


def test_zipf_keys_are_skewed(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    gen.write_events(path, 20000, 10000, seed=1, zipf_a=1.3)
    counts = pq.read_table(path).to_pandas()["user_id"].value_counts()
    assert counts.iloc[0] > 0.05 * 20000  # the hottest key
    assert len(counts) < 10000 / 2


def test_planted_pairs_meet_the_threshold(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    truth = gen.write_documents(path, 600, seed=5)
    t = pq.read_table(path).to_pydict()
    texts = dict(zip(t["doc_id"], t["text"]))
    assert len(truth.near_pairs) > 30
    for a, b in truth.near_pairs:
        assert a < b and gen.jaccard(texts[a], texts[b]) >= 0.8
    assert truth.n_distinct_texts == len(set(texts.values())) < 600


def test_derived_seeds_are_stable_and_distinct():
    assert gen.derive_seed(1, "p0") == gen.derive_seed(1, "p0")
    assert len({gen.derive_seed(s, p) for s in range(5)
                for p in ("p0", "p1", "warmup")}) == 15


# -- kafka check -------------------------------------------------------------

def _kafka_output(n_topics=2, n_parts=4, ckpt=1000):
    data = [(f"t{t}", p, f'{{"i":{i}}}') for t in range(n_topics)
            for p in range(n_parts) for i in range(3)]
    mark = ('{"type":"TIDB_WATERMARK","_tidb":{"watermarkTs":%d}}' % ckpt)
    marks = [(f"t{t}", p, mark) for t in range(n_topics) for p in range(n_parts)]
    return data, marks, {f"t{t}": n_parts for t in range(n_topics)}


def _check_kafka(drained, expected, parts, ckpt=1000, max_ts=1000):
    data, marks = checks.parse_drained(drained)
    return checks.check_kafka(checks.multiset_digest(data),
                              checks.multiset_digest(expected),
                              marks, parts, ckpt, max_ts)


def test_kafka_check_accepts_exact_output():
    data, marks, parts = _kafka_output()
    chk = _check_kafka(list(reversed(data + marks)), data, parts)
    assert chk.ok, chk.problems


@pytest.mark.parametrize("corrupt", ["alter", "drop", "duplicate", "no_mark",
                                     "stale_mark", "checkpoint"])
def test_kafka_check_rejects_corrupted_output(corrupt):
    data, marks, parts = _kafka_output()
    expected = list(data)
    ckpt = 1000
    if corrupt == "alter":
        data[3] = (data[3][0], data[3][1], data[3][2].replace("}", " }"))
    elif corrupt == "drop":
        data = data[1:]
    elif corrupt == "duplicate":
        data = data + data[:1]
    elif corrupt == "no_mark":
        marks = marks[1:]
    elif corrupt == "stale_mark":
        marks[0] = (marks[0][0], marks[0][1], marks[0][2].replace("1000", "999"))
    elif corrupt == "checkpoint":
        ckpt = 999
    chk = _check_kafka(data + marks, expected, parts, ckpt=ckpt)
    assert not chk.ok and chk.problems


# -- mysql check (DuckDB replay of a generated input) ------------------------

@pytest.fixture(scope="module")
def replayed(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mysql"))
    truth = gen.write_events(os.path.join(d, "events.parquet"), 3000, 800,
                             seed=2, zipf_a=1.3)
    inp = workloads.Input("p0", d, truth)
    return workloads.MySQLCatchup.replay(inp)


def test_mysql_replay_is_final_state(replayed):
    keys = [(t, i) for t, i, _, _ in replayed]
    assert len(keys) == len(set(keys)) > 100
    assert {t for t, *_ in replayed} <= set(workloads.TP_TABLES)


def test_mysql_check_accepts_exact_state(replayed):
    chk = checks.check_mysql(list(reversed(replayed)), replayed)
    assert chk.ok, chk.problems


@pytest.mark.parametrize("corrupt", ["value", "drop", "extra"])
def test_mysql_check_rejects_corrupted_state(replayed, corrupt):
    got = list(replayed)
    if corrupt == "value":
        t, i, v, k = got[0]
        got[0] = (t, i, v + 0.01, k)
    elif corrupt == "drop":
        got.pop()
    else:
        got.append(("tp_view", -1, 1.0, 1))
    chk = checks.check_mysql(got, replayed)
    assert not chk.ok and chk.problems


# -- dedup check -------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("docs") / "documents.parquet")
    truth = gen.write_documents(path, 500, seed=9)
    t = pq.read_table(path).to_pydict()
    texts = dict(zip(t["doc_id"], t["text"]))
    pairs = [(a, b, round(gen.jaccard(texts[a], texts[b]), 6))
             for a, b in sorted(truth.near_pairs)]
    first: dict[str, int] = {}
    counts: dict[str, int] = {}
    for i, text in texts.items():
        first.setdefault(text, i)
        counts[text] = counts.get(text, 0) + 1
    groups = [(counts[x], first[x]) for x in counts]
    return truth, texts, pairs, groups


def _check_dedup(truth, texts, pairs, groups):
    return checks.check_dedup(pairs, texts, truth.near_pairs, groups,
                              truth.n_distinct_texts, 0.8)


def test_dedup_check_accepts_planted_pairs(corpus):
    chk = _check_dedup(*corpus)
    assert chk.ok and chk.recall == 1.0, chk.problems


@pytest.mark.parametrize("corrupt", ["unrelated_pair", "wrong_jaccard",
                                     "unordered", "groups"])
def test_dedup_check_rejects_corrupted_output(corpus, corrupt):
    truth, texts, pairs, groups = corpus
    pairs, groups = list(pairs), list(groups)
    if corrupt == "unrelated_pair":
        planted = {x for p in truth.near_pairs for x in p}
        a, b = sorted(i for i in texts if i not in planted)[:2]
        pairs.append((a, b, 0.9))
    elif corrupt == "wrong_jaccard":
        a, b, j = pairs[0]
        pairs[0] = (a, b, round(j - 0.01, 6))
    elif corrupt == "unordered":
        a, b, j = pairs[0]
        pairs[0] = (b, a, j)
    else:
        groups.pop()
    chk = _check_dedup(truth, texts, pairs, groups)
    assert not chk.ok and chk.problems


def test_dedup_recall_counts_missing_pairs(corpus):
    truth, texts, pairs, groups = corpus
    chk = _check_dedup(truth, texts, pairs[: len(pairs) // 2], groups)
    assert chk.ok and chk.recall == pytest.approx(
        (len(pairs) // 2) / len(truth.near_pairs))


# -- spans -------------------------------------------------------------------

def test_self_time_excludes_children():
    tr = Tracer(True)
    with tr.span("pass", "p"):
        with tr.span("a", "p"):
            pass
        with tr.span("b", "p"):
            pass
    root = tr.spans[0]
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert tr.self_time(root) == pytest.approx(
        root.duration - tr.spans[1].duration - tr.spans[2].duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("pass", "p"):
        pass
    assert tr.spans == [] and tr.median("pass") == 0.0


# -- launcher ----------------------------------------------------------------

def test_run_fails_without_the_engine(tmp_path):
    """A tree holding only the benchmark exits non-zero, printing no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kafka_changefeed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


# -- engine outputs through the checks ----------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from ticdc_spark.session import get_spark

    s = get_spark("perfbench_tests")
    yield s
    s.stop()


def _small(wl, kind="small", pass_id="p0"):
    inp = wl.make_input(kind, pass_id)
    return inp, wl.run_pass(inp)


def test_kafka_pass_checks_and_rejects_tampering(spark, tmp_path):
    wl = workloads.KafkaChangefeed(spark, str(tmp_path), seed=1)
    items = [_small(wl, pass_id=f"p{i}") for i in range(2)]
    assert [c.problems for c in wl.check_all(items)] == [[], []]
    inp, res = items[0]
    assert res.checkpoint_s is not None and 0 < res.checkpoint_s <= res.wall
    n, h = res.out["digest"]
    marks = dict(res.out["watermarks"])
    marks.pop(next(iter(marks)))
    tampered = [
        (inp, dataclasses.replace(res, out={**res.out, "digest": (n - 1, h)})),
        (inp, dataclasses.replace(res, out={**res.out, "digest": (n, h ^ 1)})),
        (inp, dataclasses.replace(res, out={**res.out, "watermarks": marks})),
        # the other pass's output checked against this pass's input
        (inp, items[1][1]),
    ]
    assert not any(c.ok for c in wl.check_all(tampered))


def test_mysql_pass_checks_and_rejects_tampering(spark, tmp_path):
    wl = workloads.MySQLCatchup(spark, str(tmp_path), seed=1)
    inp, res = _small(wl)
    chk = wl.check(inp, res)
    assert chk.ok, chk.problems
    rows = res.out["readback"]
    t, i, v, k = rows[0]
    tampered = dataclasses.replace(res, out={
        **res.out, "readback": [(t, i, v * 2 + 1, k)] + rows[1:]})
    assert not wl.check(inp, tampered).ok


def test_dedup_pass_checks_and_rejects_tampering(spark, tmp_path):
    wl = workloads.CorpusDedup(spark, str(tmp_path), seed=1)
    inp, res = _small(wl)
    chk = wl.check(inp, res)
    assert chk.ok and chk.recall > 0.9
    a, b, j = res.out["pairs"][0]
    tampered = dataclasses.replace(res, out={
        **res.out, "pairs": [(a, b, j / 2)] + res.out["pairs"][1:]})
    assert not wl.check(inp, tampered).ok
