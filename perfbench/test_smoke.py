"""Smoke test of the benchmark itself: every workload, its correctness
checks and its traced run, on tiny inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run as bench  # noqa: E402
from tracing import LAYER_METRICS  # noqa: E402

E2E = {"setup_s", "job_s", "throughput_per_s"}


@pytest.fixture(scope="module")
def traced():
    """One traced smoke run per workload, sharing this process's Spark
    session."""
    try:
        yield {
            name: bench.run_workload(name, seed=7, trace=True, smoke=True,
                                     process_start=0.0)
            for name in bench.WORKLOADS
        }
    finally:
        bench.stop_session()


@pytest.mark.parametrize("name", bench.WORKLOADS)
def test_workload_is_correct_and_reports_every_metric(traced, name):
    result, env = traced[name]
    assert result["correct"], result
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == set(LAYER_METRICS)
    assert set(env["end_to_end"]) == E2E
    assert all(v > 0 for v in env["end_to_end"].values()), env["end_to_end"]
    assert env["cpus"] and env["pyspark"] and env["shuffle_partitions"]


def test_layers_read_where_the_table_says(traced):
    layer = {name: {k: m["value"] for k, m in traced[name][0]["metrics"].items()}
             for name in bench.WORKLOADS}
    queries, sync = layer["query_mix"], layer["ingest_sync"]
    assert queries["queries.artifact_build_s"] > 0  # the one-shot pass builds
    assert queries["warm.queries.artifact_build_s"] == 0  # the warm pass must not
    assert all(v == 0 for k, v in queries.items() if k.startswith(("sinks.", "sources.")))
    for prefix in ("", "warm."):
        assert queries[prefix + "catalyst.planning_ms"] > 0
        assert queries[prefix + "collect.to_pandas_s"] > 0
        assert queries[prefix + "spark.tasks"] > 0
        assert queries[prefix + "python.rows"] > 0
    assert sync["sinks.rest_sink.requests"] > 0 and sync["sources.jdbc.rows"] > 0
    assert sync["operators.relational.deletes"] > 0 and sync["sources.rest.pages"] > 0
    assert sync["queries.builder_s"] == 0


def test_digest_reads_a_pandas_frame_like_collect():
    import datetime as dt

    import numpy as np
    import pandas as pd

    from querymix import pandas_digest
    from tools.oracle_check import frame_digest

    pdf = pd.DataFrame({
        "i": np.array([1, 2], dtype="int64"),
        "f": [1.5, np.nan],
        "b": np.array([True, False]),
        "t": pd.to_datetime(["2024-01-01 00:00:01.500", "2024-01-02 00:00:00.000"]),
        "a": [np.array([1.0, 2.0]), np.array([])],
    })
    rows = [(1, 1.5, True, dt.datetime(2024, 1, 1, 0, 0, 1, 500000), [1.0, 2.0]),
            (2, None, False, dt.datetime(2024, 1, 2), [])]
    assert pandas_digest(pdf) == frame_digest(["i", "f", "b", "t", "a"], rows)


def test_without_the_package_the_command_fails(tmp_path):
    """Run from a directory holding only the benchmark, it must exit
    non-zero and print no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    with pytest.raises(ValueError):
        json.loads(last)


def test_sync_check_catches_a_wrong_api_state(tmp_path):
    """The ingest check passes on the expected state and fails when one
    document loses last-row-wins or a ghost is not deleted."""
    from types import SimpleNamespace

    import gen
    from ingest import IngestSync
    from tracing import Tracer

    job = IngestSync(str(tmp_path), seed=3, n_candidates=40, tracer=Tracer(False))

    def sent(key, want):  # the document as the sync would POST it
        return {
            **{k: want[k] for k in ("firstName", "lastSurname", "birthDate",
                                    "sourceOrder", "sexDescriptor", "tppProgramDegrees")},
            "teacherCandidateIdentifier": key,
            "addresses": [
                {**dict(zip(("addressTypeDescriptor", "streetNumberName", "city",
                             "stateAbbreviationDescriptor", "postalCode"), ident)),
                 "periods": [{"beginDate": b, "endDate": e} for b, e in periods]}
                for ident, periods in want["addresses"].items()
            ],
        }

    def finish(srv, docs, deleted):
        srv.store = docs
        srv.deleted = deleted
        srv.counts.update(upserts=len(docs), deletes=len(deleted))
        return SimpleNamespace(upsert_count=len(docs), delete_count=len(deleted),
                               error_count=0, fatal_error=False)

    ghosts = [f"rid-{k}" for k in job.inputs["ghost_keys"]]
    expected = gen.expected_documents(job.inputs)
    docs = {k: sent(k, w) for k, w in expected.items()}
    job.check(finish(job.server, docs, ghosts))
    assert job.errors == []

    key = next(iter(docs))
    docs[key]["lastSurname"] += "-stale"
    job.check(finish(job.server, docs, ghosts[1:]))
    assert any("documents differ" in e for e in job.errors)
    assert any("ghosts" in e for e in job.errors)
