"""Workload ``query_mix``: the engine's read path, as a one-shot job.

One operation is one registered query: ``spec.build`` plus ``toPandas``,
as a client fetching a result runs it. Every result is checked against
the DuckDB oracle's ``frame_digest`` (``tools/oracle_check.py``),
computed once per run over the same generated tables.

A fresh Spark process runs the mix once. That pass pays every artifact
build the mix needs and every first execution, which is what a one-shot
batch user waits for. The traced run then also runs the mix warm, once
untraced and once traced, for the warm read path's layers and for the
tracing overhead.
"""

from __future__ import annotations

import math
import os
import time

import gen
from tools.oracle_check import duck_result, frame_digest

# A stratified draw from the oracle-checked, non-streaming queries outside
# pipeline_q (whose REST stub and Derby fixtures ingest_sync replaces):
# random.Random(18) samples 2 of the 11 that took >= 0.9 s in the
# round-18 bench, then 8 of the other 268. One drawn query is left out
# because its artifact alone takes 11.5 s to build in a fresh process on a
# 4-core box (qz180_mannwhitney_test, kw_ranked), more than a run can
# spare. Two are added: qz49h_profile_typed, whose profile_typed is the
# only one of the six largest round-18 builds cheap enough here (about
# 5 s; the others take 9-23 s), and qz59_seq_packing, because no drawn
# query runs a Python worker in its final plan. The draw is fixed, not
# taken from --seed, so that every seed times the same mix.
QUERIES = [
    "q268_yoy_nation_growth", "qz104_image_dhash_ok",
    "qz189_conformal_bound", "qz20_approx_distinct_ok",
    "qz255_fulfillment_latency", "qz57_chunk_windows", "qz76_grouping_sets",
    "qz81_jsonl_roundtrip", "qz83_rag_retrieval",
    "qz49h_profile_typed", "qz59_seq_packing",
]
# cheap queries of the mix for --smoke: one builds an artifact, one runs
# a Python worker
SMOKE_QUERIES = ["qz57_chunk_windows", "qz81_jsonl_roundtrip", "qz59_seq_packing"]


# -- result digests --------------------------------------------------------

def _collected(v):
    """A ``toPandas`` cell as ``DataFrame.collect`` would return it, so the
    digest matches the oracle's. Arrow turns a null double into NaN, so
    NaN reads as null."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.ndarray):
        return [_collected(x) for x in v]
    if isinstance(v, list):
        return [_collected(x) for x in v]
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def pandas_digest(pdf) -> tuple[int, list[str], str]:
    rows = [tuple(_collected(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)]
    return frame_digest([str(c) for c in pdf.columns], rows)


def oracle_digests(names: list[str], data: str) -> dict[str, tuple]:
    """DuckDB's digest of every query's oracle SQL over ``data``."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    specs = all_queries()
    return {name: duck_result(specs[name].oracle, data) for name in names}


# -- one query --------------------------------------------------------------

class QueryRunner:
    """Runs registered queries, checks each result and feeds the tracer."""

    def __init__(self, spark, data: str, oracle: dict, tracer) -> None:
        from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import BUILD_TIMES, all_queries

        self.spark, self.data, self.oracle, self.tracer = spark, data, oracle, tracer
        self.specs = all_queries()
        self.build_times = BUILD_TIMES
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    def run(self, name: str, tracer=None) -> float:
        """One query; returns its wall time (build + toPandas), or the time
        until it raised."""
        tr = tracer if tracer is not None else self.tracer
        builds0 = dict(self.build_times)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(name), tr.job_group(self.spark):
                df = self.specs[name].build(self.spark, self.data)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
        except Exception as e:  # a failing query is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0
        built = {k: v - builds0.get(k, 0.0) for k, v in self.build_times.items()
                 if v != builds0.get(k)}
        artifact_s = sum(built.values())
        tr.add("queries.builder_s", t1 - t0 - artifact_s)
        tr.add("queries.artifact_build_s", artifact_s)
        tr.add("queries.artifact_builds", len(built))
        tr.add("collect.to_pandas_s", t2 - t1)
        tr.plan_metrics(df)
        got = pandas_digest(pdf)
        if got != self.oracle[name]:
            self.failed += 1
            self.errors.append(f"{name}: digest {got} != oracle {self.oracle[name]}")
        return t2 - t0


def _make_data(work: str, sf: float, seed: int, names: list[str]):
    data = os.path.join(work, "tables")
    gen.write_tables(data, sf, seed)
    return data, oracle_digests(names, data)


def run(work: str, seed: int, tracer, session_factory, sf: float,
        queries: list[str]) -> dict:
    """Set up, then run every query once. Layer metrics are totals over
    that pass and, under ``warm.``, over the traced warm pass."""
    from tracing import Tracer

    t = time.perf_counter()
    data, oracle = _make_data(work, sf, seed, queries)
    t_inputs = time.perf_counter() - t
    t = time.perf_counter()
    spark = session_factory()
    session_s = time.perf_counter() - t
    runner = QueryRunner(spark, data, oracle, tracer)  # imports every query module
    setup_end = time.perf_counter()
    ops = [runner.run(name) for name in queries]
    if tracer.enabled:
        tracer.totals["session.start_s"] = session_s
        warm = Tracer(True)
        untraced = sum(runner.run(name, Tracer(False)) for name in queries)
        traced = sum(runner.run(name, warm) for name in queries)
        tracer.totals.update({"warm." + k: v for k, v in warm.totals.items()})
        tracer.totals["trace.gap_frac"] = traced / untraced - 1
    return {
        "setup_end": setup_end,
        "t_inputs": t_inputs,
        "op_s": ops,
        "items": len(ops),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
    }

