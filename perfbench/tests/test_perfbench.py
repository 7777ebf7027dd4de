"""Tests of the benchmark itself: its metric names, its statistics and
its output check.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.metrics import median, quartiles, relative_iqr  # noqa: E402
from perfbench.trace import union_length  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_metric_has_a_valid_name_and_unit():
    cfg = _config()
    names = [m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]]
    assert len(names) == len(set(names))
    for m in cfg["end_to_end"] + cfg["per_layer"]:
        assert NAME_RE.match(m["name"]), m["name"]
        assert UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")


def test_config_matches_what_the_run_prints():
    cfg = _config()
    assert {m["name"]: m["unit"] for m in cfg["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in cfg["per_layer"]] == [
        (n, u, b) for n, u, b, _moves in PER_LAYER
    ]
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in cfg["workloads"]] == list(run.WORKLOADS) == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize(
    "values",
    [[3.0, 1.0, 2.0], [1.0, 2.0, 3.0, 4.0], list(map(float, range(1, 11))), [5.0, 5.0, 9.0, 1.0, 2.5]],
)
def test_median_and_quartiles_match_the_statistics_module(values):
    assert median(values) == statistics.median(values)
    assert list(quartiles(values)) == statistics.quantiles(values, n=4)


def test_quartiles_by_hand():
    assert quartiles([float(v) for v in range(1, 11)]) == (2.75, 5.5, 8.25)
    assert relative_iqr([float(v) for v in range(1, 11)]) == pytest.approx(5.5 / 5.5)
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert union_length([(2.0, 3.0), (0.0, 5.0)]) == 5.0


def test_run_refuses_a_checkout_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "feeds", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


class DroppingPoster:
    """Collector that loses one feature: the check must notice."""

    def __init__(self, spool_dir: str, drop_id: str):
        self.spool_dir = spool_dir
        self.drop_id = drop_id

    def __call__(self, doc: str) -> None:
        import uuid

        parsed = json.loads(doc)
        parsed["features"] = [f for f in parsed["features"] if f["id"] != self.drop_id]
        with open(os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.json"), "w") as fh:
            json.dump(parsed, fh)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark import cloudpickle

    from etl_inreach_spark.session import get_spark

    # Spark's Python workers must rebuild DroppingPoster without
    # importing this test module
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    os.environ["TZ"] = "UTC"
    s = get_spark("perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _small_feeds(spark, work_dir):
    from perfbench.workloads import FeedsWorkload

    wl = FeedsWorkload(spark, str(work_dir), seed=7)
    wl.shares = 3
    wl.setup()
    return wl


def test_feeds_check_passes_on_a_faithful_collector(spark, tmp_path):
    res = _small_feeds(spark, tmp_path).check()
    assert res.failed == 0, res.problems
    assert res.attempted > 3


def test_feeds_check_catches_a_dropped_feature(spark, tmp_path):
    wl = _small_feeds(spark, tmp_path)
    victim = sorted(next(iter(wl.expected.values())))[0][0]
    wl.poster_cls = lambda spool: DroppingPoster(spool, victim)
    res = wl.check()
    assert res.failed == 1, res.problems
    assert res.failed / res.attempted > 0
    assert "missing" in res.problems[0]
