"""Unit tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import latency  # noqa: E402
from harness import Tracer  # noqa: E402


def _progress(batch_id: int, start: str, trigger_ms: int,
              ends: dict[int, int], run_id: str = "r1") -> dict:
    return {"batchId": batch_id, "runId": run_id,
            "timestamp": f"2026-01-01T00:00:{start}Z",
            "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"endOffset": json.dumps(
                {str(p): o for p, o in ends.items()})}]}


T0 = latency.epoch_ms("2026-01-01T00:00:00.000Z")


class TestLatencyAttribution:
    # batch 0 commits offsets [0, 2) of p0 and [0, 1) of p1 at 1.5 s;
    # batch 1 commits up to 5 / 3 at 3.0 s + 2.5 s = 5.5 s;
    # batch 2 commits up to 6 / 3 at 6.0 s + 1 s = 7.0 s
    PROGRESS = [_progress(0, "00.500", 1000, {0: 2, 1: 1}),
                _progress(2, "06.000", 1000, {0: 6, 1: 3}),
                # batch 1's event reaches the listener after batch 2's
                _progress(1, "03.000", 2500, {0: 5, 1: 3})]

    def test_commit_time_is_timestamp_plus_trigger_execution(self):
        assert latency.commit_ms(self.PROGRESS[2]) - T0 == 5500.0

    def test_records_map_to_the_first_batch_whose_end_offset_passes_them(self):
        recs = [(0, 0, T0 + 100), (0, 1, T0 + 200), (1, 0, T0 + 300),
                (0, 2, T0 + 1000), (0, 4, T0 + 2900), (1, 2, T0 + 2000),
                (0, 5, T0 + 5000)]
        got = latency.attribute(recs, self.PROGRESS)
        assert got == [(1400.0, 0), (1300.0, 0), (1200.0, 0),
                       (4500.0, 1), (2600.0, 1), (3500.0, 1),
                       (2000.0, 2)]

    def test_out_of_order_delivery_does_not_change_attribution(self):
        recs = [(0, 3, T0), (0, 5, T0)]
        in_order = sorted(self.PROGRESS, key=lambda p: p["batchId"])
        assert latency.attribute(recs, self.PROGRESS) == \
            latency.attribute(recs, in_order)

    def test_a_missing_late_event_leaves_its_records_on_a_later_batch(self):
        # without batch 1's event the same records would be charged to
        # batch 2: the benchmark must wait for every event first
        early = [p for p in self.PROGRESS if p["batchId"] != 1]
        assert latency.attribute([(0, 3, T0)], early) == [(7000.0, 2)]

    def test_uncovered_records_are_reported_as_never_committed(self):
        assert latency.attribute([(0, 6, T0), (2, 0, T0)],
                                 self.PROGRESS) == [None, None]

    def test_second_source_is_attributed_separately(self):
        p = _progress(0, "00.000", 1000, {0: 1})
        p["sources"].append({"endOffset": {"0": 9}})
        assert latency.attribute([(0, 5, T0)], [p], source=1) == \
            [(1000.0, 0)]
        assert latency.attribute([(0, 5, T0)], [p], source=0) == [None]

    def test_nearest_rank_percentile(self):
        vals = list(range(1, 101))
        assert latency.percentile(vals, 50) == 50
        assert latency.percentile(vals, 99) == 99
        assert latency.percentile([7.0], 99) == 7.0


class TestWordcountChecker:
    LINES = ["a b a", "B c"]

    def _changelog(self, counts):
        return [(0, i, json.dumps({"word": w, "cnt": c}).encode())
                for i, (w, c) in enumerate(counts)]

    def test_correct_changelog_passes(self):
        # update mode re-emits a word on every change; the latest wins
        log = self._changelog([("a", 2), ("b", 1), ("b", 2), ("c", 1)])
        assert checks.check_wordcount(self.LINES, log) == []

    def test_planted_wrong_count_is_flagged(self):
        log = self._changelog([("a", 2), ("b", 1), ("c", 1)])
        assert checks.check_wordcount(self.LINES, log) == \
            ["b: expected 2 got 1"]

    def test_planted_dropped_word_is_flagged(self):
        log = self._changelog([("a", 2), ("b", 2)])
        assert checks.check_wordcount(self.LINES, log) == \
            ["c: expected 1 got None"]


class TestJoinChecker:
    LEFT = [(1, 10, 1_000), (2, 12, 1_000)]
    RIGHT = [(1, 11, 5_000), (1, 13, 40_000), (2, 15, 11_000)]

    def test_pairs_within_the_window_each_exactly_once(self):
        assert checks.check_join(self.LEFT, self.RIGHT,
                                 [(1, 10, 11), (2, 12, 15)], 10_000) == []

    def test_planted_duplicate_pair_is_flagged(self):
        rows = [(1, 10, 11), (1, 10, 11), (2, 12, 15)]
        assert checks.check_join(self.LEFT, self.RIGHT, rows, 10_000) == \
            ["unexpected (1, 10, 11)"]

    def test_planted_dropped_pair_is_flagged(self):
        assert checks.check_join(self.LEFT, self.RIGHT, [(1, 10, 11)],
                                 10_000) == ["missing (2, 12, 15)"]


class TestBatchChecker:
    @pytest.fixture(scope="class")
    def oc(self):
        return checks.load_oracle_check(ROOT)

    ROWS = [("to", 4), ("be", 2), ("or", 2)]

    def test_loading_the_oracle_check_leaves_sys_path_alone(self, oc):
        assert hasattr(oc, "table_hash")
        before = list(sys.path)
        checks.load_oracle_check(ROOT)
        assert sys.path == before

    def test_equal_tables_in_any_order_pass(self, oc):
        assert checks.compare_tables(
            oc, ["word", "cnt"], self.ROWS,
            ["cnt", "word"], [(c, w) for w, c in reversed(self.ROWS)]) == []

    def test_planted_dropped_row_is_flagged(self, oc):
        bad = checks.compare_tables(oc, ["word", "cnt"], self.ROWS[:-1],
                                    ["word", "cnt"], self.ROWS)
        assert bad == ["rowcount spark=2 duck=3"]

    def test_planted_wrong_value_is_flagged(self, oc):
        wrong = [("to", 4), ("be", 3), ("or", 2)]
        bad = checks.compare_tables(oc, ["word", "cnt"], wrong,
                                    ["word", "cnt"], self.ROWS)
        assert len(bad) == 1 and bad[0].startswith("hash ")


def test_self_time_subtracts_the_part_children_cover():
    tr = Tracer(True)
    root = tr.add("run", "harness", 0.0, 100.0)
    batch = tr.add("batch", "microbatch", 10.0, 60.0, root)
    tr.add("addBatch", "streaming", 20.0, 50.0, batch)
    tr.add("sink", "sinks", 40.0, 55.0, batch)  # overlaps its sibling
    assert tr.self_ms_by_layer() == {"harness": 50.0, "microbatch": 15.0,
                                     "streaming": 30.0, "sinks": 15.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", "harness"):
        pass
    assert tr.add("y", "harness", 0.0, 1.0) == 0 and tr.spans == []


def test_compare_refuses_artifacts_from_different_cpu_counts():
    a = {"provenance": {"cpus": 4, "workload": "batch_sf01"}}
    b = {"provenance": {"cpus": 32, "workload": "batch_sf01"}}
    assert "cpus differ" in compare.refusal(a, b)
    assert compare.refusal(a, a) is None


def test_benchmark_json_matches_the_metrics_run_prints():
    import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_warm_up_timestamps_spread_evenly_up_to_now():
    import generator

    class Sink:
        def __init__(self):
            self.ts = []

        def send(self, producer, ts_ms):
            self.ts.append(ts_ms)

    class Broker:
        def producer(self):
            return type("P", (), {"flush": lambda self: None})()

    src = Sink()
    generator.produce_now(Broker(), src, 4, spread_ms=60_000)
    steps = {b - a for a, b in zip(src.ts, src.ts[1:])}
    assert steps == {15_000} and src.ts[0] == src.ts[-1] - 45_000
    flat = Sink()
    generator.produce_now(Broker(), flat, 3)
    assert len(set(flat.ts)) == 1
