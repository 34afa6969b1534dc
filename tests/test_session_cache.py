"""The engine's one cache: ``session.session_cache``.

Every reused table scan, fixture, artifact and gate decision lives in a
dict on the SparkSession object, so its lifetime is the session's. These
tests pin that rule: no module-level container grows when a session
works, a second session starts cold, and no module declares a new
module-level cache.
"""

from __future__ import annotations

import ast
import importlib
import pkgutil
from pathlib import Path

import ed_fi_x_tpdm_data_ingestion_poc_spark as pkg
from ed_fi_x_tpdm_data_ingestion_poc_spark.session import session_cache

# memo()'s process-wide build timing (read in place by bench.py and the
# benchmark) and its nesting stack
_RUNTIME_GLOBALS = {"BUILD_TIMES", "_BUILD_STACK"}
# ... plus the query registry, which @query fills at import time
_ALLOWED_EMPTY_GLOBALS = _RUNTIME_GLOBALS | {"QUERIES"}


def _package_modules():
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if info.name.rsplit(".", 1)[-1] != "__main__":  # runs the CLI
            yield importlib.import_module(info.name)


def _container_sizes() -> dict[tuple[str, str], int]:
    return {
        (m.__name__, name): len(v)
        for m in _package_modules()
        for name, v in vars(m).items()
        if not name.startswith("__") and isinstance(v, (dict, list))
    }


def test_session_work_leaves_module_state_alone(spark, sf_dir):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
        BUILD_TIMES,
        all_queries,
        broadcast_if_small,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    profile_typed = all_queries()["qz49h_profile_typed"].build
    s = spark.newSession()

    def work():
        table(s, sf_dir, "nation")
        profile_typed(s, sf_dir).collect()
        broadcast_if_small(table(s, sf_dir, "region"))

    before = _container_sizes()
    work()
    grew = {
        name for (mod, name), n in _container_sizes().items()
        if before.get((mod, name)) != n
    }
    assert grew <= _RUNTIME_GLOBALS, grew

    cache = session_cache(s)
    gate_keys = [k for k in cache if isinstance(k, tuple)
                 and k[0] == "broadcast_gate"]
    assert len(gate_keys) == 1
    times = dict(BUILD_TIMES)
    work()
    assert BUILD_TIMES == times  # a warm repeat builds nothing

    mine = session_cache(spark)
    assert mine is not cache
    for key in [("table", sf_dir, "nation"), ("profile_typed", sf_dir)]:
        assert cache[key].sparkSession is s
        assert mine.get(key) is not cache[key]


def test_spread_scan_samples_memory_once_per_session(spark, sf_dir,
                                                      monkeypatch):
    """The spread cap reads MemAvailable once per session, so two plans
    get the same width whatever order they run in."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark import session
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import spread_scan
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    samples = iter([12.0, 30.0, 60.0, 90.0])
    monkeypatch.setattr(session, "mem_available_gb", lambda: next(samples))
    s = spark.newSession()
    # 64 lanes before the cap: above max(8, GiB / 1.5) for every sample
    factor = 64 / s.sparkContext.defaultParallelism
    widths = [
        spread_scan(table(s, sf_dir, name), factor).rdd.getNumPartitions()
        for name in ("nation", "region")
    ]
    assert widths == [8, 8]


def test_bpe_merges_train_once(monkeypatch):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import bpe
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import training_q

    calls = []
    real = bpe.train_bpe

    def counting(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(bpe, "train_bpe", counting)
    training_q._bpe_merges.cache_clear()
    first = training_q._bpe_merges()
    assert training_q._bpe_merges() == first
    assert len(calls) == 1


def _is_empty_container(value) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, ast.List):
        return not value.elts
    return (
        isinstance(value, ast.Call)
        and isinstance(value.func, ast.Name)
        and value.func.id == "dict"
        and not value.args
        and not value.keywords
    )


def test_no_module_level_cache_containers():
    """A new cache belongs in session_cache(spark), not in a module dict."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _is_empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if name not in _ALLOWED_EMPTY_GLOBALS:
                    rel = path.relative_to(root.parent)
                    offenders.append(f"{rel}:{node.lineno} {name}")
    assert not offenders, offenders
