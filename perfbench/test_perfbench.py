"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import time

import pyarrow.parquet as pq
import pytest

from multi_format_document_extractor_spark import oracle
from perfbench import checks, inputs
from perfbench.metrics import END_TO_END, NAME_RE, PER_LAYER
from perfbench.tracing import (
    CoreClock,
    Span,
    Tracer,
    _covered,
    find_event_log,
    read_event_log,
    self_times,
    steal_seconds,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_metric_names_are_well_formed():
    for name in [*END_TO_END, *PER_LAYER]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
        assert NAME_RE.match(name), name
    assert not set(END_TO_END) & set(PER_LAYER)


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _table(d: str, name: str):
    return pq.read_table(os.path.join(d, name))


def test_page_inputs_are_deterministic_per_seed(tmp_path):
    a = inputs.page_corpus(str(tmp_path / "a"), 40, seed=5)
    b = inputs.page_corpus(str(tmp_path / "b"), 40, seed=5)
    c = inputs.page_corpus(str(tmp_path / "c"), 40, seed=6)
    for f in ("pages.parquet", "expected.parquet"):
        assert _table(a, f).equals(_table(b, f))
    assert not _table(a, "pages.parquet").equals(_table(c, "pages.parquet"))
    # a second call is a cache hit on the same directory
    assert inputs.page_corpus(str(tmp_path / "a"), 40, seed=5) == a


def test_doc_tables_are_deterministic_per_seed(tmp_path):
    a = inputs.doc_tables(str(tmp_path / "a"), 50, 20, seed=5)
    b = inputs.doc_tables(str(tmp_path / "b"), 50, 20, seed=5)
    c = inputs.doc_tables(str(tmp_path / "c"), 50, 20, seed=6)
    for f in ("documents.parquet", "embeddings.parquet"):
        assert _table(a, f).equals(_table(b, f))
        assert not _table(a, f).equals(_table(c, f))
    assert _table(a, "documents.parquet").column_names == [
        "doc_id", "text", "lang", "source", "n_chars"
    ]


def test_prune_keeps_the_most_recently_used_entries(tmp_path):
    for i, name in enumerate(("old", "mid", "new", "new.tmp9")):
        (tmp_path / name).mkdir()
        (tmp_path / name / "f").write_bytes(b"x" * 100)
        os.utime(tmp_path / name, (i, i))
    inputs.prune(str(tmp_path), keep_bytes=250)
    assert sorted(os.listdir(tmp_path)) == ["mid", "new"]


def test_clustered_layout_rewrites_the_same_rows(tmp_path):
    cache = str(tmp_path)
    uni = _table(inputs.page_corpus(cache, 60, 5), "pages.parquet")
    clu_dir = inputs.page_corpus(cache, 60, 5, "clustered")
    clu = _table(clu_dir, "pages.parquet")
    assert sorted(uni.column("url").to_pylist()) == sorted(
        clu.column("url").to_pylist()
    )
    by_url = {r["url"]: r for r in uni.to_pylist()}
    for r in clu.to_pylist():
        assert by_url[r["url"]] == r
    fmts = [oracle.sniff_format(p) for p in clu.column("html").to_pylist()]
    assert fmts == sorted(fmts)
    again = inputs.cluster_by_format(uni)
    assert again.equals(clu)


def test_hybrid_slice_is_stratified_by_size_and_format(tmp_path):
    cache = str(tmp_path)
    src = inputs.page_corpus(cache, 400, 5)
    d = inputs.page_corpus(cache, 400, 5, "slice100")
    uni, sl = _table(src, "pages.parquet"), _table(d, "pages.parquet")
    urls = uni.column("url").to_pylist()
    got = sl.column("url").to_pylist()
    assert len(got) == 100
    pos = [urls.index(u) for u in got]
    assert pos == sorted(pos)  # generator order
    sizes = [len(p or b"") for p in sl.column("html").to_pylist()]
    assert sum(s > inputs.LARGE_BYTES for s in sizes) == 2
    assert _table(d, "expected.parquet").column("url").to_pylist() == got
    assert inputs.stratified(uni, 100).equals(sl)
    # the small rows keep the table's format mix, to within one row each
    fmts = [oracle.sniff_format(p) for p in uni.column("html").to_pylist()]
    small = [f for p, f in zip(uni.column("html").to_pylist(), fmts)
             if len(p or b"") <= inputs.LARGE_BYTES]
    picked = [oracle.sniff_format(p) for p, s in
              zip(sl.column("html").to_pylist(), sizes) if s <= inputs.LARGE_BYTES]
    for f in set(small):
        assert abs(picked.count(f) - 98 * small.count(f) / len(small)) < 1


def _span(name, start, end, parent):
    return Span(name, start, end, parent, "r")


def test_self_time_of_nested_spans():
    spans = [
        _span("run", 0.0, 10.0, None),
        _span("a", 1.0, 4.0, 0),
        _span("a.child", 1.5, 2.5, 1),
        _span("b", 3.5, 6.0, 0),  # overlaps a: covered once, not twice
        _span("b.child", 5.0, 7.0, 3),  # spills past b: clipped at 6.0
    ]
    got = self_times(spans)
    assert got == pytest.approx([10.0 - 5.0, 3.0 - 1.0, 1.0, 2.5 - 1.0, 2.0])
    assert _covered([]) == 0.0
    assert _covered([(0, 1), (2, 3), (2.5, 4)]) == pytest.approx(3.0)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    t = Tracer("r")
    with t.span("run"):
        with t.span("x"):
            pass
        with t.span("y"):
            with t.span("z"):
                pass
    assert [(s.name, s.parent) for s in t.spans] == [
        ("run", None),
        ("x", 0),
        ("y", 0),
        ("z", 2),
    ]
    assert sum(self_times(t.spans)) == pytest.approx(t.spans[0].duration)
    off = Tracer("r", enabled=False)
    with off.span("run"):
        pass
    assert off.spans == []


def test_checker_flags_one_flipped_byte():
    exp = {
        "u1": (b"alpha text", 1),
        "u2": (b"beta text", 2),
        "u3": (b"", 0),
    }
    rows = [
        {"url": u, "text_out": t, "n_blocks": n} for u, (t, n) in exp.items()
    ]
    assert checks.check_extracted(rows, exp) == (3, 0)
    flipped = bytearray(rows[1]["text_out"])
    flipped[0] ^= 0x01
    rows[1] = {**rows[1], "text_out": bytes(flipped)}
    checked, bad = checks.check_extracted(rows, exp)
    assert bad / checked > 0
    misses: list[str] = []
    assert checks.check_extracted(rows[:2], exp, misses)[1] == 2
    assert misses == ["u2", "u3"]  # u2 flipped, u3 missing


def test_hybrid_checker_uses_relaxed_profile_for_escalated_rows():
    payload = b"<html><body><p>" + b"some words here " * 6 + b"</p></body></html>"
    ref = oracle.extract(payload, "relaxed")
    exp = {"u1": (b"rule text", 1), "u2": (b"unused", 9)}
    rows = [
        {"url": "u1", "mode": "rule_based", "text_out": b"rule text", "n_blocks": 1},
        {"url": "u2", "mode": "escalated", "text_out": ref.text, "n_blocks": ref.n_blocks},
    ]
    payloads = {"u1": None, "u2": payload}
    assert checks.check_hybrid(rows, exp, payloads) == (2, 0)
    rows[1] = {**rows[1], "text_out": ref.text + b"!"}
    misses: list[str] = []
    assert checks.check_hybrid(rows, exp, payloads, misses) == (2, 1)
    assert misses == ["u2"]


def test_event_log_groups_tasks_by_job_description(tmp_path):
    def task(stage, launch, finish, shuffle=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "extract"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(0, 1000, 2500),
        task(1, 1000, 1500, shuffle=2**20),
        task(2, 0, 9000),  # job without a description: ignored
    ]
    log_dir = tmp_path / "eventlog_v2_local-1"  # rolling-log layout
    log_dir.mkdir()
    (log_dir / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[:3]) + "\n"
    )
    (log_dir / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[3:]) + "\n"
    )
    assert find_event_log(str(tmp_path)) == str(log_dir)
    stats = read_event_log(str(log_dir))
    assert set(stats) == {"extract"}
    assert stats["extract"].task_s == [1.5, 0.5]
    assert stats["extract"].shuffle_mb == 1.0
    assert stats["extract"].jobs == 1


def test_steal_is_summed_over_the_given_cpus_only(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text(
        "cpu  10 0 10 100 0 0 0 70 0 0\n"
        "cpu0 5 0 5 50 0 0 0 20 0 0\n"
        "cpu1 5 0 5 50 0 0 0 50 0 0\n"
        "intr 1 2 3\n"
    )
    hz = os.sysconf("SC_CLK_TCK")
    assert steal_seconds({1}, str(stat)) == pytest.approx(50 / hz)
    assert steal_seconds({0, 1}, str(stat)) == pytest.approx(70 / hz)


def test_core_clock_counts_idle_cores():
    cpus = os.sched_getaffinity(0)
    clock = CoreClock(cpus)
    s0, t0, before = steal_seconds(cpus), time.perf_counter(), clock()
    time.sleep(0.5)
    got = clock() - before
    wall, stolen = time.perf_counter() - t0, steal_seconds(cpus) - s0
    # idle time counts on every core; stolen time does not
    assert got == pytest.approx(len(cpus) * wall - stolen, abs=0.05 * len(cpus))
    assert got > 0
