"""REST source/sink tests against the in-process ODS stub: full pagination
(fixing the reference's first-page truncation), OAuth token fetch, the
401-refresh-retry pattern (SisConnectorService.java:189-196), sink outcome
accumulation and the run report."""

from __future__ import annotations

from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.report import build_report
from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.rest_sink import (
    RestSink,
    rest_delete,
    rest_upsert,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest import (
    OAuthConfig,
    RestSource,
    fetch_token,
    iter_all_rows,
    read_rest,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.testing.rest_stub import StubRestServer
from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType([StructField("id", LongType()), StructField("name", StringType())])


def _rows(n):
    return [{"id": i, "name": f"row-{i}"} for i in range(n)]


def test_pagination_reads_past_first_page():
    with StubRestServer(_rows(250), page_size_cap=100) as s:
        src = RestSource(base_url=s.url, path="/items", page_size=100)
        got = list(iter_all_rows(src))
    assert len(got) == 250  # reference would stop at 100 (R16 bug fixed)
    assert got[-1]["id"] == 249


def test_read_rest_distributed(spark):
    with StubRestServer(_rows(230), page_size_cap=100) as s:
        src = RestSource(base_url=s.url, path="/items", page_size=100)
        df = read_rest(spark, src, SCHEMA)
        assert df.count() == 230
        assert df.schema == SCHEMA


def test_oauth_token_fetch():
    with StubRestServer([], require_auth=True) as s:
        tok = fetch_token(OAuthConfig(s.token_url, "client", "secret"))
        assert tok == "tok-1"


def test_source_401_refresh_retry():
    with StubRestServer(_rows(5), fail_first_with_401=True) as s:
        src = RestSource(
            base_url=s.url,
            path="/items",
            page_size=100,
            auth=OAuthConfig(s.token_url, "c", "s"),
        )
        got = list(iter_all_rows(src))  # first call 401s with tok-1, retries with tok-2
    assert len(got) == 5
    assert s.token_requests >= 2


def test_sink_upsert_delete_and_report(spark):
    docs = spark.createDataFrame(
        [("101", '{"a":1}'), ("102", '{"a":2}')], "key string, json string"
    )
    ids = spark.createDataFrame([("r9",)], "id string")
    with StubRestServer([]) as s:
        sink = RestSink(base_url=s.url, path="/tpdm/teacherCandidates")
        outcomes = rest_upsert(docs, sink, key_col="key", json_col="json").unionAll(
            rest_delete(ids, sink, id_col="id")
        )
        report = build_report(outcomes)
        assert sorted(u["a"] for u in s.upserts) == [1, 2]
        assert s.deletes == ["r9"]
    assert report.upsert_count == 2
    assert report.delete_count == 1
    assert report.error_count == 0
    assert "Upsert count: 2" in report.render()


def test_sink_errors_recorded_not_fatal(spark):
    docs = spark.createDataFrame([("101", '{"a":1}')], "key string, json string")
    # point the sink at a closed port -> connection error recorded in outcomes
    sink = RestSink(base_url="http://127.0.0.1:9", path="/x", timeout_sec=0.5)
    report = build_report(rest_upsert(docs, sink, key_col="key", json_col="json"))
    assert report.upsert_count == 0
    assert report.error_count == 1
    assert report.errors and "upsert 101" in report.errors[0]


def test_capped_page_size_reads_every_row(spark):
    """A server that caps `limit` below the requested page size must not
    truncate either read path: offsets step by the page it honoured."""
    with StubRestServer(_rows(250), page_size_cap=100) as s:
        src = RestSource(base_url=s.url, path="/items", page_size=500)
        driver = [r["id"] for r in iter_all_rows(src)]
        executors = sorted(r.id for r in read_rest(spark, src, SCHEMA).collect())
        # a count header the server does not send: driver pagination
        no_count = read_rest(spark, src, SCHEMA, total_count_header="X-Missing")
        no_count = sorted(r.id for r in no_count.collect())
    assert sorted(driver) == list(range(250))
    assert executors == list(range(250))
    assert no_count == list(range(250))


def test_over_reported_total_reads_served_rows(spark):
    with StubRestServer(_rows(250), page_size_cap=100, extra_total=130) as s:
        for page_size in (100, 500):
            src = RestSource(base_url=s.url, path="/items", page_size=page_size)
            assert len(list(iter_all_rows(src))) == 250
            ids = [r.id for r in read_rest(spark, src, SCHEMA).collect()]
            assert sorted(ids) == list(range(250))


def _group_jobs(spark, group):
    """(jobs, tasks) that ran in a job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        for stage_id in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(stage_id)
            tasks += info.numCompletedTasks if info else 0
    return len(jobs), tasks


def test_sink_runs_one_lane_per_slot(spark):
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    docs = spark.range(0, 96, 1, 32).selectExpr(
        "cast(id as string) AS key", "to_json(named_struct('a', id)) AS json"
    )
    ids = spark.range(0, 40, 1, 32).selectExpr("concat('r', id) AS id")
    with StubRestServer([], require_auth=True) as s:
        sink = RestSink(
            base_url=s.url, path="/tpdm/teacherCandidates",
            auth=OAuthConfig(s.token_url, "c", "s"),
        )
        sc.setJobGroup("sink-lanes", "sink-lanes")
        try:
            outcomes = rest_upsert(docs, sink, key_col="key", json_col="json").unionByName(
                rest_delete(ids, sink, id_col="id")
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert s.token_requests <= 2 * slots
        assert sorted(u["a"] for u in s.upserts) == list(range(96))
        assert sorted(s.deletes) == sorted(f"r{i}" for i in range(40))
    _, tasks = _group_jobs(spark, "sink-lanes")
    assert tasks <= 2 * slots
    assert sorted(tuple(r) for r in outcomes) == sorted(
        [(str(i), "upsert", 200, True, None) for i in range(96)]
        + [(f"r{i}", "delete", 204, True, None) for i in range(40)]
    )


def test_vocabularies_read_in_one_job(spark):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.app import load_descriptor_vocabularies

    def vocab(name, n):
        return [{"codeValue": f"{name}{i}", "namespace": f"uri://{name}"} for i in range(n)]

    routes = {
        "/sexDescriptors": vocab("sex", 3),
        "/gradeLevelDescriptors": vocab("grade", 230),  # 3 capped pages
        "/addressTypeDescriptors": [],
    }
    names = ["sex", "gradeLevel", "addressType"]
    schema = StructType(
        [StructField("codeValue", StringType()), StructField("namespace", StringType())]
    )
    sc = spark.sparkContext

    def load(group, group_names):
        # fail_first_with_401 lets only a server's first refreshed token
        # through, so each load gets a fresh server
        with StubRestServer(routes, require_auth=True, fail_first_with_401=True) as s:
            sc.setJobGroup(group, group)
            try:
                vocabs = load_descriptor_vocabularies(
                    spark, s.url, group_names, auth=OAuthConfig(s.token_url, "c", "s"),
                    page_size=500,
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return {n: sorted(tuple(r) for r in df.collect()) for n, df in vocabs.items()}

    load("vocab-one", ["gradeLevel"])
    got = load("vocab-all", names)
    with StubRestServer(routes, require_auth=True) as s:
        for name in names:
            src = RestSource(
                base_url=s.url, path=f"/{name}Descriptors", page_size=500,
                auth=OAuthConfig(s.token_url, "c", "s"),
            )
            assert got[name] == sorted(tuple(r) for r in read_rest(spark, src, schema).collect())
    assert [len(got[n]) for n in names] == [3, 230, 0]
    # three vocabularies cost the Spark jobs of one multi-page vocabulary
    assert _group_jobs(spark, "vocab-all")[0] == _group_jobs(spark, "vocab-one")[0]
    spark.catalog.clearCache()
