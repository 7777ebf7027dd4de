"""The workloads: what one pass runs, how its output is checked,
and how a traced pass splits it into layers.

Every workload only calls the program's public functions: ``session``,
``catalog``, ``sources``, ``plans``, the query registry, ``operators``
(through the queries) and ``sinks``.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import fixtures as fx
from perfbench.metrics import MB, StatusStore, tree_cpu_seconds
from perfbench.trace import Tracer, count_materializations, union_length

QUERY_MIX = (
    # iterative: eager jobs and localCheckpoint blocks during the build
    "pagerank3_copurchase",
    # one-shot: catalog -> Catalyst -> execution
    "tpch_q8_market_share",
    "tpch_q21_last_shipper",
    "window_function_zoo",
    "sessionize_events",
    "latest_per_key",
)

QUERY_MIX_SCALE = fx.Scale(
    customers=150,
    suppliers=10,
    parts=200,
    orders=1500,
    lineitems=6000,
    users=100,
    events_per_user=10,
    documents=120,
)

EVENTS_PER_USER = 67


@dataclass
class PassResult:
    """Operations one pass attempted and how many of them failed."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)


class SpoolPoster:
    """The FeatureCollection collector the benchmark owns: each POST body
    becomes one file in a spool directory. Called inside Spark's Python
    workers, so it holds nothing but the directory path."""

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir

    def __call__(self, doc: str) -> None:
        path = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.json")
        with open(path, "w") as fh:
            fh.write(doc)


def read_spool(spool_dir: str) -> tuple[list[dict], int, float]:
    """(features, FeatureCollection count, bytes in MB) of one pass."""
    features: list[dict] = []
    batches, size = 0, 0
    for path in glob.glob(os.path.join(spool_dir, "*.json")):
        with open(path) as fh:
            raw = fh.read()
        size += len(raw.encode())
        doc = json.loads(raw)
        if doc.get("type") != "FeatureCollection":
            raise ValueError(f"{path}: not a FeatureCollection")
        features.extend(doc["features"])
        batches += 1
    return features, batches, size / MB


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload bound to a session, a work directory and a seed."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.status = StatusStore(spark)
        self.inputs: dict = {}

    def setup(self) -> None:
        """Render the fixtures (untimed by the pass, counted in set-up)
        and describe them in ``inputs``."""

    def check(self) -> PassResult:
        """One full pass whose outputs are compared with the oracle."""
        raise NotImplementedError

    def run_pass(self) -> PassResult:
        """One timed pass."""
        raise NotImplementedError

    def trace_pass(self, tracer: Tracer) -> dict[str, float]:
        """One pass split into layers; returns per-layer numbers."""
        raise NotImplementedError


# --- feeds ----------------------------------------------------------------


class FeedsWorkload(Workload):
    """shares config -> KML feeds -> inreach_pipeline -> GeoJSON
    FeatureCollections posted to the benchmark's collector."""

    name = "feeds"
    users = 500
    shares = 9
    poster_cls = SpoolPoster
    _spools = 0

    # fixtures

    def _pick_users(self) -> list[int]:
        """The seed picks which users become shares, an equal number from
        each device count, so every seed posts the same number of
        features."""
        ids = np.arange(self.users)
        picked = np.concatenate([
            self.rng.choice(ids[ids % 3 == k], size=self.shares // 3, replace=False)
            for k in range(3)
        ])
        return [int(u) for u in self.rng.permutation(picked)]

    def setup(self) -> None:
        events = fx.make_events(self.rng, self.users, EVENTS_PER_USER)
        self.share_users = self._pick_users()
        self.keys = [fx.share_key(u) for u in self.share_users]
        self.expected = fx.expected_features(events, self.share_users)
        self._stage(fx.render_feeds(events, self.share_users))
        self.inputs = {"users": self.users, "shares": self.shares, "events": events.num_rows}
        # the config table carries the share ids in the three forms the
        # reference accepts; normalize_shares reduces them to the key
        forms = ("https://share.garmin.com/{}", "share.garmin.com/{}", "{}")
        rows = [
            (forms[i % 3].format(k), None if i % 4 == 0 else f"CS-{k}", None)
            for i, k in enumerate(self.keys)
        ]
        self.shares_df = self.spark.createDataFrame(
            rows, "share_id string, callsign string, password string"
        )
        from etl_inreach_spark.sources.http_kml import KMLFeedDataSource

        self.spark.dataSource.register(KMLFeedDataSource)

    def _stage(self, bodies: dict[str, str]) -> None:
        self.feed_dir = os.path.join(self.work_dir, "feeds")
        os.makedirs(self.feed_dir, exist_ok=True)
        for key, body in bodies.items():
            with open(os.path.join(self.feed_dir, key), "w") as fh:
                fh.write(body)

    def source(self):
        shares = json.dumps([{"share_id": k} for k in self.keys])
        return (
            self.spark.read.format("kml_feed")
            .option("shares", shares)
            .option("base_url", f"file://{self.feed_dir}/")
            .option("lookback_minutes", "0")
            .load()
            .select("share_id", "body")
        )

    # passes

    def _new_spool(self) -> str:
        self._spools += 1
        spool = os.path.join(self.work_dir, "spool", str(self._spools))
        os.makedirs(spool)
        return spool

    def _post(self, features_json) -> tuple[list[dict], int, float]:
        from etl_inreach_spark.sinks.geojson import post_feature_collections

        spool = self._new_spool()
        post_feature_collections(features_json, self.poster_cls(spool))
        return read_spool(spool)

    def _full(self):
        from etl_inreach_spark.plans.inreach import inreach_pipeline
        from etl_inreach_spark.sinks.geojson import features_to_json

        return features_to_json(inreach_pipeline(self.shares_df, self.source()))

    def _expected_total(self) -> int:
        return sum(len(v) for v in self.expected.values())

    def run_pass(self) -> PassResult:
        features, batches, _ = self._post(self._full())
        res = PassResult(attempted=batches)
        if len(features) != self._expected_total():
            res.failed = max(1, batches)
            res.problems.append(
                f"posted {len(features)} features, expected {self._expected_total()}"
            )
        return res

    def check(self) -> PassResult:
        """One operation per share (its features) and per posted
        FeatureCollection; a share fails when its (id, time, lon, lat)
        set differs from DuckDB's latest-per-device answer."""
        features, batches, _ = self._post(self._full())
        got: dict[str, set[tuple]] = {k: set() for k in self.keys}
        stray = 0
        for f in features:
            key = f["properties"]["links"][0]["url"].rsplit("/", 1)[-1]
            lon, lat = f["geometry"]["coordinates"][:2]
            if key not in got:
                stray += 1
                continue
            got[key].add((f["id"], f["properties"]["time"], float(lon), float(lat)))
        res = PassResult(attempted=len(self.keys) + batches)
        for key in self.keys:
            if got[key] != self.expected[key]:
                res.failed += 1
                missing = sorted(self.expected[key] - got[key])[:1]
                extra = sorted(got[key] - self.expected[key])[:1]
                res.problems.append(f"share {key}: missing {missing} extra {extra}")
        if stray:
            res.failed += 1
            res.problems.append(f"{stray} features for shares never configured")
        return res

    def trace_pass(self, tracer: Tracer) -> dict[str, float]:
        """Cumulative prefixes, each ended by a noop write; a layer's self
        time is the difference between successive prefixes."""
        from etl_inreach_spark.plans.inreach import (
            dedup_features,
            normalize_shares,
            placemarks_to_features,
        )
        from etl_inreach_spark.sinks.geojson import features_to_json
        from etl_inreach_spark.sources.kml import kml_to_placemarks

        with tracer.span("plans.build"):
            src = self.source()
            placemarks = kml_to_placemarks(src)
            features = placemarks_to_features(placemarks, normalize_shares(self.shares_df))
            latest = dedup_features(features)
            rendered = features_to_json(latest.drop("arrival_idx"))
        with tracer.span("catalyst.plan"):
            rendered._jdf.queryExecution().executedPlan()
        build_s, plan_s = (tracer.spans[-i].seconds for i in (2, 1))
        prefixes = [
            ("source", src),
            ("parse", placemarks),
            ("project", features),
            ("dedup", latest),
            ("render", rendered),
        ]
        walls: dict[str, float] = {}
        out: dict[str, float] = {}
        for label, df in prefixes:
            self.status.mark()
            cpu0 = tree_cpu_seconds()
            with tracer.span(f"prefix.{label}"):
                noop_write(df)
            walls[label] = tracer.spans[-1].seconds
            if label == "source":
                out["sources.fetch_cpu_s"] = tree_cpu_seconds() - cpu0
                out["sources.tasks"] = self.status.since().tasks
        self.status.mark()
        with tracer.span("prefix.post"):
            _, batches, mb = self._post(rendered)
        walls["post"] = tracer.spans[-1].seconds
        ex = self.status.since(tasks=True)
        out.update({
            "sources.fetch_s": walls["source"],
            "sources.parse_s": walls["parse"] - walls["source"],
            "plans.project_s": walls["project"] - walls["parse"],
            "plans.dedup_s": walls["dedup"] - walls["project"],
            "sinks.render_s": walls["render"] - walls["dedup"],
            "sinks.post_s": walls["post"] - walls["render"],
            "sinks.batches": batches,
            "sinks.mb": mb,
            "plans.build_s": build_s,
            "catalyst.plan_s": plan_s,
            "exec.s": walls["post"],
            "_pass_s": build_s + plan_s + walls["post"],
            **exec_metrics(ex),
        })
        if not hasattr(self, "_placemarks"):
            self._placemarks = placemarks.count()
        out["sources.placemarks"] = self._placemarks
        return out


# --- query_mix ----------------------------------------------------------


def _oracle_check_module(repo_root: str):
    """tools/oracle_check.py, imported by path (it is a script)."""
    path = os.path.join(repo_root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMixWorkload(Workload):
    """Six registry queries, each ending in a noop write."""

    name = "query_mix"

    def setup(self) -> None:
        from etl_inreach_spark.queries import all_oracles, all_queries

        self.sf_dir = fx.write_tables(
            fx.make_tables(self.seed, QUERY_MIX_SCALE),
            os.path.join(self.work_dir, "catalog"),
        )
        self.inputs = {"scale": vars(QUERY_MIX_SCALE), "queries": list(QUERY_MIX)}
        queries, oracles = all_queries(), all_oracles()
        self.names = [QUERY_MIX[i] for i in self.rng.permutation(len(QUERY_MIX))]
        self.fns = {n: queries[n] for n in self.names}
        self.oracles = {n: oracles[n] for n in self.names}

    def check(self) -> PassResult:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        oc = _oracle_check_module(repo_root)
        con = oc.duck_con(self.sf_dir)
        res = PassResult(attempted=len(self.names))
        try:
            for name in self.names:
                try:
                    s_cols, s_rows = oc.pandas_rows(
                        self.fns[name](self.spark, self.sf_dir).toPandas()
                    )
                    d_cols, d_rows = oc.pandas_rows(con.execute(self.oracles[name]).df())
                    problems = oc.compare(name, s_cols, s_rows, d_cols, d_rows)
                except Exception as e:  # noqa: BLE001 -- a failing query is a failed operation
                    problems = [f"{type(e).__name__}: {e}"]
                if problems:
                    res.failed += 1
                    res.problems.append(f"{name}: " + "; ".join(problems))
        finally:
            con.close()
        return res

    def run_pass(self) -> PassResult:
        for name in self.names:
            noop_write(self.fns[name](self.spark, self.sf_dir))
        return PassResult(attempted=len(self.names))

    def trace_pass(self, tracer: Tracer) -> dict[str, float]:
        """Per query: build (the query-function call, under its own job
        group so eager jobs are counted), plan (executedPlan) and exec
        (the noop write)."""
        out: dict[str, float] = {
            "queries.build_s": 0.0,
            "queries.build_jobs": 0,
            "operators.eager_s": 0.0,
            "catalyst.plan_s": 0.0,
            "exec.s": 0.0,
            "_pass_s": 0.0,
        }
        whole_pass = StatusStore(self.spark)
        whole_pass.mark()
        with count_materializations(type(self.spark.range(1)), tracer):
            for name in self.names:
                self.status.mark()
                with self._job_group(f"build:{name}"), tracer.span(f"q.{name}.build"):
                    df = self.fns[name](self.spark, self.sf_dir)
                with tracer.span(f"q.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self._job_group(f"exec:{name}"), tracer.span(f"q.{name}.exec"):
                    noop_write(df)
                build = self.status.since(job_group=f"build:{name}")
                jobs = self.status.since().jobs
                b, p, e = (tracer.spans[-i].seconds for i in (3, 2, 1))
                out["queries.build_s"] += b
                out["queries.build_jobs"] += build.jobs
                out["operators.eager_s"] += union_length(build.job_spans)
                out["catalyst.plan_s"] += p
                out["exec.s"] += e
                out["_pass_s"] += b + p + e
                out[f"q.{name}.s"] = b + p + e
                out[f"q.{name}.jobs"] = jobs
        out.update(exec_metrics(whole_pass.since(tasks=True)))
        return out

    @contextmanager
    def _job_group(self, group: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def exec_metrics(ex) -> dict[str, float]:
    return {
        "exec.jobs": ex.jobs,
        "exec.stages": ex.stages,
        "exec.tasks": ex.tasks,
        "exec.task_cpu_s": ex.task_cpu_s,
        "exec.gc_s": ex.gc_s,
        "exec.spill_mb": ex.spill_mb,
        "exec.shuffle_read_mb": ex.shuffle_read_mb,
        "exec.straggler_ratio": ex.straggler_ratio,
    }


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (FeedsWorkload, QueryMixWorkload)
}
