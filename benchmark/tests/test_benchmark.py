"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest benchmark/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import json
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from benchmark import checks, datagen, hostspeed, metrics, workloads
from benchmark.tracing import count_jobs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- generators ------------------------------------------------------------

def test_tables_are_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.write_tables(str(tmp_path / name), seed)
    for t in ("lineitem", "events", "documents", "embeddings", "part"):
        a, b, c = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert a.equals(b), t
        assert not a.equals(c), t


def test_serve_stream_is_deterministic_and_keeps_the_mix():
    keys = [f"/vol_a/bkt_f/dir0/sub0/f_{i}" for i in range(50)]
    a = list(itertools.islice(datagen.serve_stream(3, keys), 3))
    assert a == list(itertools.islice(datagen.serve_stream(3, keys), 3))
    assert a != list(itertools.islice(datagen.serve_stream(4, keys), 3))

    def mix(cycle):
        """Everything about a cycle's requests but the names they draw."""
        drawn = {"volume", "bucket", "prefix", "row_key", "dir_path", "container_id"}
        return sorted(sorted((k, str(v)) for k, v in r.items() if k not in drawn) for r in cycle)

    for cycle in a:
        assert len(cycle) == datagen.CYCLE * len(datagen.SERVE_OPS)
        for op in ("list_keys", "list_objects_v2"):
            assert sorted(r["pages"] for r in cycle if r["op"] == op) == list(datagen.PAGES)
        assert mix(cycle) == mix(a[0])
    other = next(datagen.serve_stream(4, keys))
    assert mix(other) == mix(a[0])


def test_cdc_batches_are_deterministic_per_seed():
    keys = [
        {"row_key": f"/vol_a/bkt_f/dir0/sub0/f_{i}", "volume": "vol_a", "bucket": "bkt_f",
         "key": f"dir0/sub0/f_{i}", "data_size": i, "container_id": 1}
        for i in range(100)
    ]
    take = lambda seed: list(itertools.islice(datagen.cdc_batches(seed, keys, 50), 3))  # noqa: E731
    a = take(7)
    assert a == take(7)
    assert a != take(8)
    events = [e for b in a for e in b]
    assert [e["seqno"] for e in events] == list(range(1, 151))
    assert {e["op"] for e in events} == {"PUT", "UPDATE", "DELETE"}
    # an UPDATE or DELETE carries the size it replaces
    assert all(e["old_size"] is not None for e in events if e["op"] != "PUT")


# --- metric names and the benchmark description ------------------------------

def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert checks.valid_metric_name(name), name
    assert not checks.valid_metric_name("serve p50")
    assert not checks.valid_metric_name("p50/ms")


def test_benchmark_json_matches_the_catalogue():
    bench = _bench_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == {
        k: v[:3] for k, v in metrics.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()}
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


# --- the percentile rule ----------------------------------------------------

def test_percentile_needs_ten_samples_above_it():
    assert checks.percentile(list(range(199)), 0.95) is None
    assert checks.percentile(list(range(200)), 0.95) == 189
    assert checks.percentile(list(range(10)), 0.5) is None
    assert checks.percentile(list(range(20)), 0.5) == 9


def test_geomean():
    assert checks.geomean([2.0, 8.0]) == pytest.approx(4.0)


def test_host_correction_scales_by_the_reference_time():
    rt = hostspeed.BATCH_ROUND_TRIPS
    ref = hostspeed.ref_ms(rt)
    # on a host half as fast the reference and every operation take twice as long
    assert hostspeed.corrected([100.0, 40.0], 2 * ref, 2 * ref, rt) == [
        pytest.approx(50.0), pytest.approx(20.0)]
    # the reference's times before and after an operation are averaged
    assert hostspeed.corrected([90.0], ref, 2 * ref, rt) == [pytest.approx(60.0)]


def test_reference_operation_makes_its_round_trips():
    calls = []
    system = SimpleNamespace(nanoTime=lambda: calls.append(1))
    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))
    assert hostspeed.sample(jvm, 3) > 0
    assert len(calls) == hostspeed.REPS * 3


# --- correctness checkers catch altered results ------------------------------

@pytest.fixture
def snapshot(tmp_path):
    rows = []
    for v, b in (("vol_a", "bkt_f"), ("vol_a", "bkt_o"), ("vol_n", "bkt_f")):
        for d in range(3):
            for i in range(30):
                key = f"dir{d}/sub{i % 2}/f_{i}"
                rows.append({"row_key": f"/{v}/{b}/{key}", "key": key, "volume": v,
                             "bucket": b, "data_size": 100 * d + i, "container_id": i % 4})
    path = str(tmp_path / "om_keys")
    pq.write_to_dataset(pa.Table.from_pylist(rows), path, partition_cols=["volume", "bucket"])
    return path, rows


def _flip(pages):
    """The pages with the last row's size changed."""
    out = [list(p) for p in pages]
    last = list(out[-1][-1])
    last[-1] = last[-1] + 1
    out[-1][-1] = tuple(last)
    return out


def _pages(con, req):
    pages, token = [], None
    for _ in range(req["pages"]):
        fn = checks.ref_list_keys if req["op"] == "list_keys" else checks.ref_list_objects_v2
        page = fn(con, req["volume"], req["bucket"], req["prefix"], token, req["max_keys"])
        pages.append(page)
        if len(page) < req["max_keys"]:
            break
        token = page[-1][0]
    return pages


def test_listing_checker_catches_altered_pages(snapshot):
    con = checks.keys_connection(snapshot[0])
    req = {"op": "list_keys", "volume": "vol_a", "bucket": "bkt_f",
           "prefix": "/vol_a/bkt_f/dir1/", "max_keys": 7, "pages": 3}
    pages = _pages(con, req)
    assert len(pages) == 3 and all(len(p) == 7 for p in pages)
    assert pages[0][0][0] == "/vol_a/bkt_f/dir1/sub0/f_0"
    assert checks.check_request(con, req, pages)
    assert not checks.check_request(con, req, _flip(pages))
    assert not checks.check_request(con, req, [pages[0], pages[2], pages[1]])


def test_s3_checker_catches_altered_pages(snapshot):
    con = checks.keys_connection(snapshot[0])
    top = {"op": "list_objects_v2", "volume": "vol_a", "bucket": "bkt_o",
           "prefix": "dir2/", "max_keys": 1, "pages": 3}
    pages = _pages(con, top)
    assert pages == [[("dir2/sub0/", "PREFIX", 0)], [("dir2/sub1/", "PREFIX", 0)], []]
    assert checks.check_request(con, top, pages)
    leaf = dict(top, prefix="dir2/sub1/", max_keys=4)
    pages = _pages(con, leaf)
    assert pages[0][0] == ("dir2/sub1/f_1", "KEY", 201)
    assert checks.check_request(con, leaf, pages)
    assert not checks.check_request(con, leaf, _flip(pages))


def test_lookup_checker_catches_altered_rows(snapshot):
    con = checks.keys_connection(snapshot[0])
    req = {"op": "lookup_key", "row_key": "/vol_n/bkt_f/dir0/sub1/f_3"}
    assert checks.check_request(con, req, [[("/vol_n/bkt_f/dir0/sub1/f_3", 3, 3)]])
    assert not checks.check_request(con, req, [[("/vol_n/bkt_f/dir0/sub1/f_3", 4, 3)]])
    assert not checks.check_request(con, req, [[]])
    assert checks.check_request(con, dict(req, row_key="/vol_n/bkt_f/nope"), [[]])


def test_list_status_checker_catches_altered_rows(snapshot):
    con = checks.keys_connection(snapshot[0])
    req = {"op": "list_status", "volume": "vol_a", "bucket": "bkt_o", "dir_path": "dir1"}
    want = [("dir1/sub0", True, 15, sum(100 + i for i in range(0, 30, 2))),
            ("dir1/sub1", True, 15, sum(100 + i for i in range(1, 30, 2)))]
    assert checks.check_request(con, req, [want])
    assert not checks.check_request(con, req, [want[:1]])
    assert not checks.check_request(con, req, [[want[0], want[1][:3] + (0,)]])
    leaf = dict(req, dir_path="dir1/sub1")
    rows = checks.ref_list_status(con, "vol_a", "bkt_o", "dir1/sub1")
    assert rows[0] == ("dir1/sub1/f_1", False, 1, 101) and len(rows) == 15
    assert not checks.check_request(con, leaf, [[(r[0], True) + r[2:] for r in rows]])


def test_namespace_summary_checker_catches_altered_rows(snapshot):
    con = checks.keys_connection(snapshot[0])
    req = {"op": "namespace_summary", "volume": "vol_n", "bucket": "bkt_f"}
    rows = checks.ref_namespace_summary(con, "vol_n", "bkt_f")
    # 3 top directories and 2 subdirectories in each, every key in both
    assert len(rows) == 9
    assert ("vol_n", "bkt_f", "dir2", 30, sum(200 + i for i in range(30))) in rows
    assert checks.check_request(con, req, [list(reversed(rows))])
    assert not checks.check_request(con, req, [rows[1:]])
    assert not checks.check_request(con, req, [rows[:-1] + [rows[-1][:4] + (1,)]])


def test_unchecked_calls_are_not_attempted(snapshot):
    con = checks.keys_connection(snapshot[0])
    lookup = {"op": "lookup_key", "row_key": "/vol_n/bkt_f/dir0/sub1/f_3"}
    res = {"con": con, "sync": None, "done": [
        ({"op": "datanode_usage", "count": 5, "most_used": True}, [[(1, 2)]], None),
        ({"op": "containers_keys", "container_id": 1, "max_keys": 10}, None, "boom"),
        (lookup, [[("/vol_n/bkt_f/dir0/sub1/f_3", 3, 3)]], None),
        (lookup, [[("/vol_n/bkt_f/dir0/sub1/f_3", 9, 3)]], None),
    ]}
    attempted, failed, errors = workloads.check_serve(res)
    assert (attempted, failed, len(errors)) == (2, 1, 1)


def test_frame_hash_catches_an_altered_result():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0000001, 2.5], "n": [1, 2]})
    b = a.iloc[::-1][["n", "v", "k"]].copy()  # other row and column order
    b["v"] = [2.5, 1.0000002]  # equal to 6 decimals
    assert checks.frame_hash(a) == checks.frame_hash(b)
    c = a.copy()
    c.loc[1, "v"] = 2.51
    assert checks.frame_hash(a) != checks.frame_hash(c)
    assert checks.frame_hash(a) != checks.frame_hash(a.iloc[:1])
    assert checks.frame_hash(a) != checks.frame_hash(a.rename(columns={"n": "m"}))


# --- job counts --------------------------------------------------------------

class _FakeTracker:
    """Jobs 1 and 2 (group a) share stage 10, which ran in job 1 and is
    listed again, skipped, by job 2; job 3 (group b) reuses stage 11."""

    Job = __import__("collections").namedtuple("Job", "stageIds")
    Stage = __import__("collections").namedtuple("Stage", "numTasks numCompletedTasks")

    def getJobIdsForGroup(self, group):
        return {"a": [1, 2], "b": [3]}[group]

    def getJobInfo(self, jid):
        return self.Job({1: [10], 2: [10, 11], 3: [11, 12]}[jid])

    def getStageInfo(self, sid):
        return {10: self.Stage(32, 32), 11: self.Stage(4, 4), 12: self.Stage(8, 0)}[sid]


def test_job_counts_count_each_stage_once():
    spans = [{"group": "a"}, {"group": "b"}]
    count_jobs(_FakeTracker(), spans)
    assert spans[0] == {"group": "a", "jobs": 2, "stages": 2, "tasks": 36}
    # stage 11 already counted; stage 12 was skipped (no completed tasks)
    assert spans[1] == {"group": "b", "jobs": 1, "stages": 0, "tasks": 0}


def test_replay_checker_catches_an_altered_snapshot(tmp_path, snapshot):
    initial, rows = snapshot
    events = [
        dict(rows[0], seqno=1, op="UPDATE", data_size=999),
        dict(rows[1], seqno=2, op="DELETE"),
        dict(rows[2], seqno=3, op="UPDATE", data_size=5),
        dict(rows[2], seqno=4, op="DELETE"),
        {"row_key": "/vol_a/bkt_f/dir0/sub0/new", "key": "dir0/sub0/new", "volume": "vol_a",
         "bucket": "bkt_f", "data_size": 1, "container_id": 0, "seqno": 5, "op": "PUT"},
    ]
    os.makedirs(tmp_path / "events")
    pq.write_table(pa.Table.from_pylist(events), tmp_path / "events" / "batch-0.parquet")
    final = {r["row_key"]: dict(r) for r in rows}
    final[rows[0]["row_key"]]["data_size"] = 999
    del final[rows[1]["row_key"]], final[rows[2]["row_key"]]
    final[events[-1]["row_key"]] = {k: v for k, v in events[-1].items()
                                    if k not in ("seqno", "op")}

    def write(name, table_rows):
        path = str(tmp_path / name)
        pq.write_to_dataset(pa.Table.from_pylist(table_rows), path,
                            partition_cols=["volume", "bucket"])
        return path

    good = write("good", list(final.values()))
    assert checks.replay_mismatches(initial, str(tmp_path / "events"), good) == 0
    stale = list(final.values())
    stale[0] = dict(stale[0], data_size=stale[0]["data_size"] + 1)
    assert checks.replay_mismatches(initial, str(tmp_path / "events"), write("bad", stale)) == 2
    resurrected = list(final.values()) + [rows[1]]
    assert checks.replay_mismatches(
        initial, str(tmp_path / "events"), write("dead", resurrected)) == 1
