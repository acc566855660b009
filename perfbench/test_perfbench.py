"""Self-tests of the benchmark. They need no Spark session:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from collections import Counter
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ingest  # noqa: E402
import logquery  # noqa: E402
import run  # noqa: E402
from harness import median, nearest_rank  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic():
    a = gen.make_bodies(7, 3)
    assert a == gen.make_bodies(7, 3)
    assert a != gen.make_bodies(8, 3)
    # a body's bytes depend on (seed, index) only, not on how many are made
    assert gen.make_bodies(7, 1, first_body=2)[0] == a[2]
    assert logquery.query_set(5) == logquery.query_set(5)
    assert logquery.cycle(5) == logquery.cycle(5)


def test_generated_bodies_have_the_promised_shape():
    body = gen.make_bodies(3, 1)[0]
    docs = gen.doc_lines(body)
    junk = [ln for ln in body.decode().split("\n") if ln.startswith("junk")]
    assert len(docs) + len(junk) == gen.EVENTS_PER_BODY
    assert all(gen.body_of(d) == 0 for d in docs)
    assert all('"@timestamp":' in d and '"container":' in d for d in docs)


def test_query_ranges_stay_inside_one_month():
    for seed in range(20):
        for kind, args in logquery.query_set(seed):
            if not args:
                continue
            lo, hi = (dt.datetime.fromisoformat(a) for a in args)
            last = hi - dt.timedelta(seconds=1)
            assert (lo.year, lo.month) == (last.year, last.month), (seed, kind, args)
            assert lo.month < 1 + logquery.MONTHS


def test_nearest_rank_picks_an_actual_sample_and_counts():
    values = [50, 10, 40, 20, 30]
    assert nearest_rank(values, 50) == (30, 5)
    assert nearest_rank(values, 90) == (50, 5)
    assert nearest_rank(values, 20) == (10, 5)
    assert nearest_rank(values, 21) == (20, 5)
    assert nearest_rank(list(range(1, 101)), 99) == (99, 100)
    assert nearest_rank([7.5], 99) == (7.5, 1)
    assert median([3, 1, 2, 4]) == 2.5
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_dropped_duplicated_or_corrupted_rows_are_failures():
    bodies = dict(enumerate(gen.make_bodies(11, 3)))
    expected = ingest.expected_rows(bodies)
    assert ingest.failed_bodies(expected, expected) == set()

    dropped = {b: Counter(c) for b, c in expected.items()}
    dropped[1].pop(next(iter(dropped[1])))
    assert ingest.failed_bodies(expected, dropped) == {1}

    duplicated = {b: Counter(c) for b, c in expected.items()}
    duplicated[2][next(iter(duplicated[2]))] += 1
    assert ingest.failed_bodies(expected, duplicated) == {2}

    line = gen.doc_lines(bodies[0])[0]
    corrupted = {b: Counter(c) for b, c in expected.items()}
    corrupted[0][gen.digest(line)] -= 1
    corrupted[0][gen.digest(line.replace('"message":"', '"message":"x'))] += 1
    assert ingest.failed_bodies(expected, corrupted) == {0}

    missing_body = {b: c for b, c in expected.items() if b != 2}
    assert ingest.failed_bodies(expected, missing_body) == {2}


def test_sink_rows_trace_rows_back_to_their_body(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    bodies = dict(enumerate(gen.make_bodies(5, 2)))
    lines = [ln for b in bodies.values() for ln in gen.doc_lines(b)]
    path = str(tmp_path / "part.parquet")
    pq.write_table(pa.table({"raw_json": lines}), path)
    got, visible = ingest.sink_rows({path: 123.0})
    assert ingest.failed_bodies(ingest.expected_rows(bodies), got) == set()
    assert visible == {0: 123.0, 1: 123.0}


def test_printed_metrics_match_benchmark_json():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    res = {name: 1.0 for name, _ in run.E2E}
    res.update(attempted=4, failed=0, layer={})
    e2e = run.report(SimpleNamespace(trace=0), res)["metrics"]
    assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = run.report(SimpleNamespace(trace=1), res)["metrics"]
    assert {k: v["unit"] for k, v in layer.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}


def test_report_counts_failures():
    res = {name: 1.0 for name, _ in run.E2E}
    res.update(attempted=200, failed=3)
    out = run.report(SimpleNamespace(trace=0), res)
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 200, 3)
