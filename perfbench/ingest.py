"""Workload ``ingest_sync``: the reference's batch job, end to end.

One operation is one full sync, as an operator runs it: read the
descriptor vocabularies and the remote snapshot over REST, then
``app.run`` with ``teacher_candidate_builder`` (JDBC read from an embedded
Derby SIS, rename/cast/enrich, nest, REST upsert and delete, run report).
Before every sync the benchmark's server is reset to the seeded remote
state, so each sync does the same work. After every sync the server's
documents are checked against a plain-Python expectation.
"""

from __future__ import annotations

import os
import time

import gen
from server import RESOURCE, SyncServer

VOCABS = ["sex", "academicSubject", "gradeLevel", "tppDegreeType",
          "addressType", "stateAbbreviation"]
PAGE_SIZE = 100


class IngestSync:
    def __init__(self, work: str, seed: int, n_candidates: int, tracer) -> None:
        self.work, self.tracer = work, tracer
        self.inputs = gen.sis_inputs(n_candidates, seed)
        self.expected = gen.expected_documents(self.inputs)
        self.spec_dir = os.path.join(work, "spec")
        gen.write_spec(self.spec_dir)
        self.db_dir = os.path.join(work, "sis")
        self.server = SyncServer(self.inputs["vocabularies"])
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    # -- inputs -----------------------------------------------------------
    def seed_database(self, spark) -> None:
        """Create the SIS source tables in a fresh embedded Derby database,
        through JDBC in the driver's JVM rather than through a Spark job,
        so that seeding warms up nothing the first sync would pay for."""
        jvm = spark._jvm
        jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{self.db_dir};create=true")
        try:
            stmt = conn.createStatement()
            for table, rows, columns in (
                ("cand_src", self.inputs["candidates"], gen.CANDIDATE_COLUMNS),
                ("addr_src", self.inputs["addresses"], gen.ADDRESS_COLUMNS),
            ):
                stmt.executeUpdate(f"CREATE TABLE {table} ({columns})")
                for i in range(0, len(rows), 500):
                    values = ", ".join(
                        "(" + ", ".join(_sql_literal(v) for v in row) + ")"
                        for row in rows[i:i + 500])
                    stmt.executeUpdate(f"INSERT INTO {table} VALUES {values}")
        finally:
            conn.close()

    def config(self):
        from ed_fi_x_tpdm_data_ingestion_poc_spark.app import AppConfig

        return AppConfig({
            "database.url": f"jdbc:derby:{self.db_dir}",
            "database.driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "input.sql.dir": os.path.join(self.spec_dir, "sql"),
            "input.columnmap.dir": os.path.join(self.spec_dir, "columnmap"),
            "output.dir": os.path.join(self.work, "output"),
            "oauth.token.url": self.server.url + "/oauth/token",
            "oauth.client.id": "perfbench",
            "oauth.client.secret": "perfbench",
            "api.base.path": self.server.url,
            "tpdm.api.save": "true",
            "output.data.to.dir": "false",
        })

    def _rest_reads(self, spark, cfg):
        """Vocabularies and the remote snapshot, materialized before the
        sync writes to the API (offset pages of a changing list would skip
        or repeat documents)."""
        from pyspark.sql.types import StringType, StructField, StructType

        from ed_fi_x_tpdm_data_ingestion_poc_spark.app import load_descriptor_vocabularies
        from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest import RestSource, read_rest

        vocabs = load_descriptor_vocabularies(
            spark, self.server.url, VOCABS, auth=cfg.oauth(), page_size=PAGE_SIZE)
        schema = StructType([StructField(name, StringType()) for name in
                             ("teacherCandidateIdentifier", "id")])
        remote = read_rest(
            spark,
            RestSource(self.server.url, RESOURCE, page_size=PAGE_SIZE, auth=cfg.oauth()),
            schema,
        ).withColumnRenamed("id", "resource_id").persist()
        remote.count()
        return vocabs, remote

    # -- one sync ---------------------------------------------------------
    def sync(self, spark) -> float:
        """One untraced sync exactly as ``app.run`` performs it; returns
        its wall time."""
        from ed_fi_x_tpdm_data_ingestion_poc_spark.app import run, teacher_candidate_builder

        self.server.reset(self.inputs["remote_keys"] + self.inputs["ghost_keys"])
        cfg = self.config()
        t0 = time.perf_counter()
        vocabs, remote = self._rest_reads(spark, cfg)
        report = run(cfg, teacher_candidate_builder(vocabs), spark=spark,
                     remote_snapshot=remote)
        wall = time.perf_counter() - t0
        self.check(report)
        spark.catalog.clearCache()
        return wall

    def traced_sync(self, spark) -> float:
        """The same sync replayed call by call, with one action and one
        Spark job group per layer boundary, so each layer's time, tasks
        and bytes can be read separately. Returns its wall time."""
        from pyspark.sql import functions as F

        from ed_fi_x_tpdm_data_ingestion_poc_spark.app import teacher_candidate_builder
        from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.relational import reconcile_snapshot
        from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.report import build_report, write_report
        from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.rest_sink import (
            RestSink, rest_delete, rest_upsert)
        from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.jdbc import read_query
        from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.specs import load_spec

        tr = self.tracer
        self.server.reset(self.inputs["remote_keys"] + self.inputs["ghost_keys"])
        cfg = self.config()
        handler0 = self.server.handler_s
        t0 = time.perf_counter()
        with tr.span("sync"):
            with tr.span("sources.rest", "sources.rest.vocab_s"), tr.job_group(spark):
                vocabs, remote = self._rest_reads(spark, cfg)
            tr.add("sources.rest.pages", self.server.counts["gets"])

            with tr.span("sources.jdbc", "sources.jdbc.read_s"), \
                    tr.job_group(spark, "sources.jdbc"):
                spec = load_spec(self.spec_dir)
                frames = {name: read_query(spark, cfg.jdbc(), sql).persist()
                          for name, sql in spec.sql.items()}
                tr.add("sources.jdbc.rows", sum(f.count() for f in frames.values()))

            with tr.span("pipeline", "pipeline.assemble_s"), \
                    tr.job_group(spark, "pipeline"):
                docs, key_col, json_col = teacher_candidate_builder(vocabs)(
                    spark, frames, spec.column_maps)
                docs = docs.persist()
                docs.count()

            sink = RestSink(base_url=self.server.url, path=RESOURCE, auth=cfg.oauth())
            c0 = dict(self.server.counts)
            with tr.span("sinks.rest_sink.upsert", "sinks.rest_sink.upsert_s"), \
                    tr.job_group(spark, "sinks.rest_sink"):
                upserts = rest_upsert(docs, sink, key_col=key_col, json_col=json_col).persist()
                upserts.count()

            with tr.span("operators.relational", "operators.relational.reconcile_s"), \
                    tr.job_group(spark):
                _, deletes = reconcile_snapshot(
                    docs.select(F.col(key_col).alias("k")),
                    remote.select(F.col("teacherCandidateIdentifier").alias("k"), "resource_id"),
                    "k",
                )
                deletes = deletes.persist()
                tr.add("operators.relational.deletes", deletes.count())

            with tr.span("sinks.rest_sink.delete", "sinks.rest_sink.delete_s"), \
                    tr.job_group(spark, "sinks.rest_sink"):
                removed = rest_delete(
                    deletes.select("resource_id"), sink, id_col="resource_id").persist()
                removed.count()
            c1 = self.server.counts
            requests = (c1["upserts"] - c0["upserts"]) + (c1["deletes"] - c0["deletes"])
            connections = c1["connections"] - c0["connections"]
            tr.add("sinks.rest_sink.requests", requests)
            tr.add("sinks.rest_sink.connections", connections)
            tr.add("sinks.rest_sink.requests_per_connection",
                   requests / connections if connections else 0.0)
            tr.add("sinks.rest_sink.token_requests",
                   c1["token_requests"] - c0["token_requests"])

            with tr.span("sinks.report", "sinks.report.report_s"), tr.job_group(spark):
                report = build_report(upserts.unionByName(removed))
                os.makedirs(os.path.join(self.work, "output"), exist_ok=True)
                write_report(report, os.path.join(self.work, "output", "traced.report"))
        wall = time.perf_counter() - t0
        tr.add("server.handler_s", self.server.handler_s - handler0)
        self.check(report)
        spark.catalog.clearCache()
        return wall

    # -- correctness ------------------------------------------------------
    def check(self, report) -> None:
        """Compare the API's final state and the run report with what the
        inputs say a correct sync leaves behind."""
        srv = self.server
        counts = dict(srv.counts)
        n_docs = len(self.expected)
        n_ghosts = len(self.inputs["ghost_keys"])
        self.attempted += report.upsert_count + report.delete_count + report.error_count
        self.failed += report.error_count + counts["unexpected"]
        errs = []
        state = srv.snapshot()
        if set(state) != set(self.expected):
            errs.append(f"keys differ: {len(set(state) ^ set(self.expected))} mismatched")
        wrong = [k for k, want in self.expected.items()
                 if k in state and received_view(state[k]) != expected_view(want)]
        if wrong:
            errs.append(f"{len(wrong)} documents differ, e.g. {wrong[0]}")
        ghost_ids = sorted(f"rid-{k}" for k in self.inputs["ghost_keys"])
        if sorted(srv.deleted) != ghost_ids:
            errs.append(f"deleted {len(srv.deleted)} ids, expected the {n_ghosts} ghosts")
        if (report.upsert_count, report.delete_count) != (
                counts["upserts"] - counts["duplicate_upserts"], counts["deletes"]):
            errs.append(f"report {report.upsert_count}/{report.delete_count} != server "
                        f"{counts['upserts']}-{counts['duplicate_upserts']}/{counts['deletes']}")
        if report.upsert_count != n_docs or report.error_count or report.fatal_error:
            errs.append(f"report: {report.upsert_count} upserts of {n_docs}, "
                        f"{report.error_count} errors")
        if counts["duplicate_upserts"]:
            errs.append(f"{counts['duplicate_upserts']} duplicate sends")
        self.errors.extend(errs)
        self.docs = counts["upserts"] + counts["deletes"]


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


SCALARS = ("firstName", "lastSurname", "birthDate", "sourceOrder",
           "sexDescriptor", "tppProgramDegrees")
ADDRESS_IDENTITY = ("addressTypeDescriptor", "streetNumberName", "city",
                    "stateAbbreviationDescriptor", "postalCode")


def received_view(doc: dict) -> dict:
    """The checked fields of a document as the API received it."""
    return {
        **{k: doc.get(k) for k in SCALARS},
        "addresses": sorted(
            (*(a.get(c) for c in ADDRESS_IDENTITY),
             sorted((p.get("beginDate"), p.get("endDate")) for p in a.get("periods", [])))
            for a in doc.get("addresses", [])
        ),
    }


def expected_view(want: dict) -> dict:
    """The same fields of ``gen.expected_documents``' entry."""
    return {
        **{k: want[k] for k in SCALARS},
        "addresses": sorted(
            (*ident, sorted(periods)) for ident, periods in want["addresses"].items()
        ),
    }


def run(work: str, seed: int, tracer, session_factory, n_candidates: int) -> dict:
    """Set up, then run the sync once, as the one-shot job it is.

    A traced run replays that first sync call by call and reports its
    layers; it then runs one untraced and one traced sync more, whose
    ratio is the tracing and staging overhead.

    Returns the raw measurements; ``t_inputs`` is the time spent making
    inputs (source rows, server, Derby), which set-up time excludes."""
    t = time.perf_counter()
    job = IngestSync(work, seed, n_candidates, tracer)
    with job.server:
        t_inputs = time.perf_counter() - t
        t = time.perf_counter()
        spark = session_factory()
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        job.seed_database(spark)
        t_inputs += time.perf_counter() - t
        setup_end = time.perf_counter()
        sync_s = job.traced_sync(spark) if tracer.enabled else job.sync(spark)
        docs = job.docs
        if tracer.enabled:
            layers, overhead = dict(tracer.totals), tracer.overhead_s
            untraced = job.sync(spark)
            traced = job.traced_sync(spark)
            tracer.totals.clear()
            tracer.totals.update(layers)
            tracer.overhead_s = overhead
            tracer.totals["trace.gap_frac"] = traced / untraced - 1
            tracer.totals["session.start_s"] = session_s
    return {
        "setup_end": setup_end,
        "t_inputs": t_inputs,
        "op_s": [sync_s],
        "items": docs,
        "attempted": job.attempted,
        "failed": job.failed,
        "errors": job.errors,
    }
