"""Unit tests of the benchmark's own helpers (no Spark needed).

Run: python -m pytest perfbench/tests -q
"""

import json

import pytest

from pbench import livemap
from pbench.stats import Tracer, pctl, samples_beyond, self_times, supported_pctl


def _progress(batch_id, start, end, rows, t, trigger_ms=400):
    return {
        "batchId": batch_id,
        "timestamp": f"2026-01-01T00:00:{t:06.3f}Z",
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [{
            "startOffset": None if start is None else {"logOffset": start},
            "endOffset": {"logOffset": end},
            "numInputRows": rows,
        }],
    }


T0 = livemap.parse_ts("2026-01-01T00:00:00.000Z")


# --- file -> micro-batch latency mapping -------------------------------------

def test_batch_spanning_several_log_entries_maps_every_file():
    # log entries 1 and 2 are consumed by one batch: (0, 2]
    entries = {"a": 0, "b": 1, "c": 1, "d": 2}
    progress = [_progress(0, None, 0, 10, 1.0), _progress(1, 0, 2, 30, 2.0)]
    due = {"a": T0 + 0.5, "b": T0 + 1.2, "c": T0 + 1.4, "d": T0 + 1.9}
    rows, missing = livemap.file_latencies(due, entries, progress)
    assert missing == []
    by_file = {r["file"]: r for r in rows}
    assert by_file["a"]["batch"] == 0
    assert {by_file[f]["batch"] for f in "bcd"} == {1}
    # latency = end of consuming batch - due; wait + process = latency
    assert by_file["b"]["latency"] == pytest.approx(2.4 - 1.2)
    for r in rows:
        assert r["wait"] + r["process"] == pytest.approx(r["latency"])
        assert r["process"] == pytest.approx(0.4)


def test_batch_with_zero_input_rows_but_moved_offset_still_consumes_its_file():
    entries = {"a": 0, "b": 1}
    progress = [
        _progress(0, None, 0, 5000, 1.0),
        _progress(1, 0, 1, 0, 2.0),  # numInputRows reads 0, offset advanced
        _progress(2, 1, 1, 0, 3.0),  # offset did not move: a no-data batch
    ]
    rows, missing = livemap.file_latencies({"a": T0, "b": T0 + 1.5}, entries, progress)
    assert missing == []
    assert {r["file"]: r["batch"] for r in rows} == {"a": 0, "b": 1}
    assert [livemap.has_data(p) for p in progress] == [True, True, False]


def test_unconsumed_file_is_reported_missing():
    entries = {"a": 0, "b": 1}
    rows, missing = livemap.file_latencies(
        {"a": T0, "b": T0 + 1, "c": T0 + 2}, entries, [_progress(0, None, 0, 1, 1.0)]
    )
    assert [r["file"] for r in rows] == ["a"]
    assert missing == ["b", "c"]


def test_offsets_given_as_json_text_are_parsed():
    p = _progress(3, None, None, 0, 1.0)
    p["sources"][0]["startOffset"] = json.dumps({"logOffset": 4})
    p["sources"][0]["endOffset"] = json.dumps({"logOffset": 6})
    assert livemap.offsets(p) == (4, 6)


def test_source_log_reads_compacted_entries_by_batch_id(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)

    def entry(path, batch):
        return json.dumps({"path": f"file:/w/{path}", "timestamp": 1, "batchId": batch})

    # entries 0..9 folded into 9.compact; 10 is a plain entry
    (d / "9.compact").write_text("v1\n" + "\n".join(entry(f"f{i}", i) for i in range(10)) + "\n")
    (d / "10").write_text("v1\n" + entry("f10", 10) + "\n" + entry("f11", 10) + "\n")
    (d / ".10.crc").write_text("ignored")
    got = livemap.read_source_log(str(tmp_path))
    assert got == {**{f"f{i}": i for i in range(10)}, "f10": 10, "f11": 10}


def test_backlog_counts_files_due_before_batch_start():
    entries = {"a": 0, "b": 1, "c": 1}
    progress = [_progress(0, None, 0, 1, 1.0), _progress(1, 0, 1, 2, 2.0)]
    due = {"a": T0 + 0.5, "b": T0 + 1.1, "c": T0 + 1.8}
    assert livemap.backlog_max(due, entries, progress) == 2


# --- percentiles and the sample rule -----------------------------------------

def test_pctl_is_nearest_rank():
    vals = list(range(1, 101))
    assert pctl(vals, 0.5) == 50
    assert pctl(vals, 0.9) == 90
    assert pctl([3.0], 0.99) == 3.0
    assert pctl([], 0.5) == 0.0


def test_percentile_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 0.9) == 10
    assert supported_pctl(list(range(100)), 0.9) is not None
    assert supported_pctl(list(range(99)), 0.9) is None
    assert supported_pctl(list(range(40)), 0.75) is not None
    assert supported_pctl(list(range(39)), 0.75) is None
    assert supported_pctl(list(range(20)), 0.5) is not None
    assert supported_pctl(list(range(19)), 0.5) is None


# --- spans and self time -----------------------------------------------------

def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps span 1: the union is 1..6
        _span(3, 8.0, 12.0, 0),  # runs past the parent: clipped at 10
        _span(4, 1.5, 2.0, 1),  # grandchild: only reduces span 1
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)
    assert all(v >= 0 for v in st.values())


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer("r1", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner", entry="x") as inner:
            pass
    assert tr.spans[inner]["parent"] == outer
    assert tr.spans[outer]["parent"] is None
    assert tr.spans[inner]["entry"] == "x"
    assert {sp["run"] for sp in tr.spans} == {"r1"}
    assert set(tr.self_time_by_name()) == {"outer", "inner"}

    off = Tracer("r2", enabled=False)
    with off.span("outer") as sid:
        assert sid is None
    assert off.add("x", 0, 1, None) is None
    assert off.spans == []


# --- progress listener ---------------------------------------------------------

def test_progress_log_waits_for_the_named_query_to_terminate():
    from types import SimpleNamespace

    from pbench.probes import ProgressLog

    log = ProgressLog()

    def progress(qid, name, batch_id):
        body = json.dumps({"id": qid, "name": name, "batchId": batch_id})
        return SimpleNamespace(progress=SimpleNamespace(json=body))

    log.onQueryProgress(progress("q1", "mem_a", 1))
    log.onQueryProgress(progress("q1", "mem_a", 0))
    log.onQueryProgress(progress("q2", "mem_b", 0))
    assert not log.wait_terminated("mem_a", timeout=0.01)
    log.onQueryTerminated(SimpleNamespace(id="q2"))
    assert not log.wait_terminated("mem_a", timeout=0.01)
    log.onQueryTerminated(SimpleNamespace(id="q1"))
    assert log.wait_terminated("mem_a", timeout=0.01)
    taken = log.take()
    assert [(p["name"], p["batchId"]) for p in taken] == [("mem_a", 0), ("mem_a", 1), ("mem_b", 0)]
    assert log.take() == []
