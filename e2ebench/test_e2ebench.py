"""The benchmark's own tests. From the root of a checkout:

    python3 -m pytest e2ebench/test_e2ebench.py -q

The Spark-backed ones run the workloads on the small sf0.001 corpus and
show that a corrupted expected answer turns `correct` false.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from e2ebench.expected import Expected, diff, java_double_str
from e2ebench.payloads import make_sequence
from e2ebench.tracing import metric_value
from e2ebench.workloads import E2E_UNITS, LAYER_UNITS, serve_stream
from tests.conftest import SF_SMOKE as SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_diff_names_op_and_first_differing_row():
    cols, rows = ["a", "b"], [(1, "x"), (2, "y")]
    assert diff("op", cols, rows, cols, list(rows)) is None
    msg = diff("search_emails {'query': 'q'}", cols, rows, cols, [(1, "x"), (2, "z")])
    assert msg.startswith("search_emails {'query': 'q'}: row 1 differs")
    assert "'2|y'" in msg and "'2|z'" in msg
    assert "rows, expected" in diff("op", cols, rows, cols, rows[:1])
    assert "columns" in diff("op", ["a", "c"], rows, cols, rows)


def test_java_double_str():
    cases = {0.1234: "0.1234", 1.0: "1.0", -0.25: "-0.25", 0.001: "0.001",
             0.0005: "5.0E-4", 0.00012: "1.2E-4", 0.0: "0.0", 12345678.0: "1.2345678E7"}
    for v, s in cases.items():
        assert java_double_str(v) == s, v


def test_metric_value_parses_sql_metric_strings():
    assert metric_value("5,000") == 5000
    assert metric_value("604 ms") == pytest.approx(0.604)
    assert metric_value("580.6 KiB") == pytest.approx(580.6 * 1024)
    assert metric_value("total (min, med, max (stageId: taskId))\n9.2 s (2.1 s, 2.5 s)") == pytest.approx(9.2)


def test_ingest_payloads_follow_the_seed():
    a = make_sequence(random.Random("ingest:1"), "s1", 40, 4)
    b = make_sequence(random.Random("ingest:1"), "s1", 40, 4)
    c = make_sequence(random.Random("ingest:2"), "s2", 40, 4)
    assert [x.payloads for x in a.batches.values()] == [x.payloads for x in b.batches.values()]
    assert a.batches["import"].payloads != c.batches["import"].payloads
    assert a.batches["import"].expected == {"processed": 40, "skipped": 0, "failed": 4}
    assert a.batches["reimport"].expected == {"processed": 20, "skipped": 20, "failed": 4}
    assert a.total == 40 + 20 + a.batches["sync"].expected["processed"]
    assert a.offered == sum(len(x.payloads) for x in a.batches.values())


def test_serve_stream_follows_the_seed(tmp_path):
    exp = Expected(SMALL, str(tmp_path))
    one, again, other = (serve_stream(s, exp, rounds=3) for s in (1, 1, 2))
    assert one == again and one != other
    # the cold round has every group_by; each warm round has every tool once
    groups = sorted(p["group_by"] for t, p in one[0] if t == "analyze_email_patterns")
    assert groups == ["day", "domain", "label", "sender", "week"]
    tools = sorted({t for t, _ in one[0]})
    assert all(sorted(t for t, _ in rnd) == tools for rnd in one[1:])
    assert len({p["group_by"] for rnd in one[1:] for t, p in rnd if "group_by" in p}) == 2


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS


# -- Spark-backed ---------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from email_etl_spark.session import get_spark

    s = get_spark("e2ebench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


class _Corrupt(Expected):
    """Expected answers with one value of one op changed."""

    def __init__(self, *args, target: str):
        super().__init__(*args)
        self.target = target

    def _corrupt(self, name, res):
        cols, rows = res
        if name != self.target or not rows:
            return res
        return cols, [tuple(f"{v}!" for v in rows[0])] + rows[1:]

    def tool(self, name, p):
        return self._corrupt(name, super().tool(name, p))

    def query(self, name):
        return self._corrupt(name, super().query(name))


@pytest.mark.parametrize("workload,target", [("serve", None), ("serve", "get_system_status"), ("curate", "knn_join")])
def test_outputs_are_checked(spark, tmp_path, workload, target, capsys):
    from e2ebench.tracing import Tracer
    from e2ebench.workloads import Run, curate, serve

    exp = _Corrupt(SMALL, str(tmp_path / "oracle"), target=target)
    run = Run(spark, Tracer(spark, enabled=False), exp, corpus=SMALL)
    if workload == "serve":
        serve(run, seed=3, seconds=0)
    else:
        curate(run, seed=3, seconds=0, warehouse_root=str(tmp_path / "wh"))
    if target is None:
        assert run.failures == [] and run.attempted == 13 + 5 * 9
    else:
        assert run.failures and all(f.startswith(target) for f in run.failures)
        assert " differs: got " in run.failures[0]
