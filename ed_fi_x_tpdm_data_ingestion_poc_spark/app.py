"""The runnable application: the reference's whole deployable (run.sh +
application.properties + input dir) as one function / CLI.

Reference flow (SURVEY.md §3 entry point 1, SisConnectorService.java:83-127):
properties -> OAuth token -> load SQL + column maps + vocabularies + remote
snapshot -> per-candidate JDBC loop -> upsert/delete over REST -> report
file. Here the same run is: properties -> spec dir -> JDBC DataFrames ->
entity assembly -> reconcile -> REST sink (executor-side, token refresh) ->
report — set-level and distributed end to end.

Config keys mirror the reference's application.properties
(/root/reference/runtime/input/application.properties:1-14):
  database.url / database.username / database.password / database.driver
  input.sql.dir / input.columnmap.dir / output.dir
  oauth.token.url / oauth.client.id / oauth.client.secret
  api.base.path
  tpdm.api.save      (false => dry run: build documents, skip the sink)
  output.data.to.dir (true  => also write the JSON documents under output.dir)

Divergences (documented in SURVEY.md §2.2/§7): invalid SQL raises instead of
returning an empty result; unmatched column-map entries raise under strict
mode; every REST page is read, not just the first 100.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.relational import reconcile_snapshot
from .session import get_spark
from .sinks.files import write_json_docs
from .sinks.report import RunReport, build_report, write_report
from .sinks.rest_sink import RestSink, rest_delete, rest_upsert
from .sources.jdbc import JdbcSource, read_query
from .sources.rest import OAuthConfig
from .sources.specs import load_spec


def parse_properties(path: str) -> dict[str, str]:
    """`key=value` lines, `#`/`!` comments — the java.util.Properties subset
    the reference actually uses."""
    out: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith(("#", "!")) or "=" not in line:
                continue
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip()
    return out


@dataclass
class AppConfig:
    properties: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_file(cls, path: str) -> AppConfig:
        return cls(parse_properties(path))

    def get(self, key: str, default: str = "") -> str:
        return self.properties.get(key, default)

    def flag(self, key: str, default: bool = False) -> bool:
        v = self.properties.get(key)
        return default if v is None else v.lower() == "true"

    def jdbc(self) -> JdbcSource:
        return JdbcSource(
            url=self.properties["database.url"],
            user=self.get("database.username"),
            password=self.get("database.password"),
            driver=self.get("database.driver") or None,
        )

    def oauth(self) -> OAuthConfig | None:
        if "oauth.token.url" not in self.properties:
            return None
        return OAuthConfig(
            token_url=self.properties["oauth.token.url"],
            client_id=self.get("oauth.client.id"),
            client_secret=self.get("oauth.client.secret"),
        )


def run(
    cfg: AppConfig,
    build_docs,
    *,
    spark: SparkSession | None = None,
    remote_snapshot: DataFrame | None = None,
    resource_path: str = "/tpdm/teacherCandidates",
) -> RunReport:
    """One ingestion run. `build_docs(spark, frames, column_maps) ->
    (docs_df, key_col, json_col)` is the entity-specific assembly (for
    teacher candidates: pipeline.build_documents wired to the spec's query
    names); everything around it — spec loading, JDBC scans, snapshot
    reconciliation, REST sink, report writing — is generic.

    remote_snapshot: (key, resource_id) DataFrame of documents currently on
    the API (e.g. via sources.rest.read_rest) — drives delete
    reconciliation (ref R21); None skips deletes.
    """
    spark = spark or get_spark()
    report = RunReport()  # stamps start_time

    # input.sql.dir/.columnmap.dir point INTO the spec dir (reference
    # layout); load_spec takes their common parent
    spec_dir = os.path.dirname(cfg.get("input.sql.dir", "input/sql").rstrip("/"))
    spec = load_spec(spec_dir)
    jdbc = cfg.jdbc()
    frames = {name: read_query(spark, jdbc, sql) for name, sql in spec.sql.items()}

    docs, key_col, json_col = build_docs(spark, frames, spec.column_maps)

    out_dir = cfg.get("output.dir", "output")
    if cfg.flag("output.data.to.dir") and cfg.flag("tpdm.api.save", True):
        # Both outputs consume docs: persist so the JSON written to disk and
        # the documents POSTed come from ONE execution of the JDBC reads
        # (unpersisted, a source change between actions could diverge them).
        docs = docs.persist()
    if cfg.flag("output.data.to.dir"):
        write_json_docs(
            docs.select(key_col, json_col),
            os.path.join(out_dir, "documents"),
        )

    if cfg.flag("tpdm.api.save", True):
        sink = RestSink(
            base_url=cfg.get("api.base.path"),
            path=resource_path,
            auth=cfg.oauth(),
        )
        outcomes = rest_upsert(docs, sink, key_col=key_col, json_col=json_col)
        if remote_snapshot is not None:
            src_keys = docs.select(F.col(key_col).alias("k"))
            # snapshot contract: (natural key, resource_id) — the key column
            # is whichever column isn't resource_id, so callers can pass the
            # REST snapshot frame as-read
            rk = [c for c in remote_snapshot.columns if c != "resource_id"][0]
            remote = remote_snapshot.select(F.col(rk).alias("k"), "resource_id")
            _, deletes = reconcile_snapshot(src_keys, remote, "k")
            outcomes = outcomes.unionByName(
                rest_delete(deletes.select("resource_id"), sink, id_col="resource_id")
            )
        # The outcome rows are the record of side effects already performed;
        # persist so no later action can re-fire the HTTP calls.
        outcomes = outcomes.persist()
        t0 = report.start_time
        report = build_report(outcomes)
        report.start_time = t0
    else:
        n = docs.count()
        report.errors = [f"dry run: {n} documents built, sink disabled"]

    report.end_time = time.time()
    os.makedirs(out_dir, exist_ok=True)
    write_report(
        report,
        os.path.join(out_dir, time.strftime("%Y-%m-%d-%H%M%S") + ".report"),
    )
    return report


def teacher_candidate_builder(
    vocabularies: dict[str, DataFrame] | None = None,
    *,
    id_col: str = "teacherCandidateIdentifier",
    order_col: str = "sourceOrder",
):
    """Default build_docs for the reference's own entity and query names
    (runtime/input/sql: teacherCandidate, teacherCandidateAddresses;
    column maps keyed the same)."""
    from .pipeline import TeacherCandidatePipeline, build_documents, serialize_documents

    def build(spark, frames, column_maps):
        # no addresses query in the spec -> empty child table (the parent
        # LEFT join then yields an empty addresses array per candidate)
        empty_addresses = spark.range(0).select(
            F.col("id").cast("string").alias(id_col),
            F.lit(None).cast("string").alias("beginDate"),
            F.lit(None).cast("string").alias("endDate"),
        )
        p = TeacherCandidatePipeline(
            candidates=frames["teacherCandidate"],
            addresses=frames.get("teacherCandidateAddresses", empty_addresses),
            vocabularies=vocabularies or {},
            candidate_map=column_maps.get("teacherCandidate", {}),
            address_map=column_maps.get("teacherCandidateAddresses", {}),
            id_col=id_col,
            order_col=order_col,
        )
        docs = build_documents(p)
        return serialize_documents(docs, id_col=id_col), "key", "json"

    return build


def main(argv: list[str] | None = None) -> int:
    """CLI analog of run.sh + SisConnectorApp.main:
    python -m ed_fi_x_tpdm_data_ingestion_poc_spark <application.properties>
    """
    import sys

    args = argv if argv is not None else sys.argv[1:]
    if len(args) != 1:
        print(
            "usage: python -m ed_fi_x_tpdm_data_ingestion_poc_spark "
            "<application.properties>",
            file=sys.stderr,
        )
        return 2
    cfg = AppConfig.from_file(args[0])
    report = run(cfg, teacher_candidate_builder())
    print(report.render())
    return 1 if report.fatal_error else 0


def load_descriptor_vocabularies(
    spark: SparkSession,
    base_url: str,
    names: list[str],
    *,
    auth: OAuthConfig | None = None,
    page_size: int = 500,
) -> dict[str, DataFrame]:
    """Descriptor vocabularies over the paginated REST source (ref R10+R16,
    initializeMaps' 7 load*DescriptorsMap calls) — reading ALL pages, not
    the first 100 (the reference truncates silently,
    SisConnectorService.java:493).

    All names are read by ONE executor job (`read_rest_paths`): every page
    of every `/<name>Descriptors` endpoint is fetched by one mapInPandas
    with at most one task per executor slot, into one
    (vocabulary, codeValue, namespace) frame that is persisted and counted
    once; `vocabulary` holds the endpoint path. Returns name ->
    (codeValue, namespace) view of that frame: vocabularies are
    broadcast-sized dims reused by every enrichment join in the run."""
    from pyspark.sql.types import StringType, StructField, StructType

    from .sources.rest import RestSource, read_rest_paths

    schema = StructType(
        [
            StructField("codeValue", StringType()),
            StructField("namespace", StringType()),
        ]
    )
    paths = {name: f"/{name}Descriptors" for name in names}
    src = RestSource(base_url=base_url, path="", auth=auth, page_size=page_size)
    every = read_rest_paths(
        spark, src, list(paths.values()), schema, path_col="vocabulary"
    ).persist()
    every.count()  # materialize while building the run graph
    return {
        name: every.filter(F.col("vocabulary") == path).select("codeValue", "namespace")
        for name, path in paths.items()
    }
