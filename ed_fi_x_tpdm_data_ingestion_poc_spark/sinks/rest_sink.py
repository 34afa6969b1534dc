"""REST upsert/delete sink with 401-refresh retry and error accumulation.

Reference semantics re-expressed (SURVEY.md R18/R19/R21/R26):
  * POST each document; on HTTP 401 refresh the bearer token and retry once
    (saveTeacherCandidate, /root/reference/banner-connector/src/main/java/
    org/edfi/sis/service/SisConnectorService.java:184-198);
  * DELETE remote docs absent from the source (:472-487);
  * per-document failures are RECORDED, not fatal — the run continues and
    the report carries the error list (:155-157, model/
    SisConnectorResponse.java:96-138).

Spark-first: documents post from executor partitions in parallel
(mapInPandas producing an outcome row per document) instead of the
reference's single thread, in one lane per executor slot: the input is
coalesced, without a shuffle, to `defaultParallelism` partitions, so every
slot runs one send loop with one token and no slot pays a second Python
task's fixed cost.
Upserts are idempotent on the natural key (the ODS upserts on natural key),
making at-least-once delivery safe.

Executor closures are SELF-CONTAINED (plain data + stdlib/pandas only):
cloudpickle serializes module-level symbols by reference, and executor
Python workers may not have this package importable.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..sources.rest import OAuthConfig

OUTCOME_SCHEMA = "key string, op string, status int, ok boolean, error string"


@dataclass
class RestSink:
    base_url: str
    path: str
    auth: OAuthConfig | None = None
    timeout_sec: float = 30.0


def _sender(auth_tuple: tuple | None, timeout: float):
    """Build the self-contained per-partition HTTP helper set."""

    def make():
        import base64 as _b64
        import json as _json
        import urllib.error as _ue
        import urllib.request as _ur

        state = {"token": None}

        def fetch_token():
            tok_url, cid, secret = auth_tuple
            basic = _b64.b64encode(f"{cid}:{secret}".encode()).decode()
            req = _ur.Request(
                tok_url,
                data=b"grant_type=client_credentials",
                headers={
                    "Authorization": f"Basic {basic}",
                    "Content-Type": "application/x-www-form-urlencoded",
                },
                method="POST",
            )
            with _ur.urlopen(req, timeout=timeout) as resp:
                return _json.loads(resp.read())["access_token"]

        def send(url, method, body, extra_headers=None):
            headers = {"Content-Type": "application/json"}
            if state["token"]:
                headers["Authorization"] = f"Bearer {state['token']}"
            if extra_headers:
                headers.update(extra_headers)
            req = _ur.Request(url, data=body, headers=headers, method=method)
            try:
                with _ur.urlopen(req, timeout=timeout) as resp:
                    return resp.status, resp.read()
            except _ue.HTTPError as e:
                return e.code, e.read()
            except Exception as e:  # connection errors -> recorded, not fatal
                return -1, str(e).encode()

        def send_with_refresh(url, method, body, extra_headers=None):
            status, resp = send(url, method, body, extra_headers)
            if status == 401 and auth_tuple is not None:
                state["token"] = fetch_token()
                status, resp = send(url, method, body, extra_headers)
            return status, resp

        if auth_tuple is not None:
            try:
                state["token"] = fetch_token()
            except Exception:
                state["token"] = None  # first 401 will retry the fetch
        return send_with_refresh

    return make


def _auth_tuple(sink: RestSink) -> tuple | None:
    return (
        (sink.auth.token_url, sink.auth.client_id, sink.auth.client_secret)
        if sink.auth
        else None
    )


def _send(
    frame: DataFrame,
    sink: RestSink,
    op: str,
    method: str,
    key_col: str,
    *,
    by_id: bool,
    body_col: str | None = None,
    etag_col: str | None = None,
) -> DataFrame:
    """The one send loop: a `method` request per row of `frame` (to
    `<path>/<key>` when `by_id`, with `body_col` as body and `etag_col` as
    If-Match), one outcome row each, one lane per executor slot."""
    base = f"{sink.base_url.rstrip('/')}/{sink.path.lstrip('/')}"
    make_sender = _sender(_auth_tuple(sink), sink.timeout_sec)

    def send_partition(batches):
        import pandas as pd

        send = make_sender()
        for pdf in batches:
            out = {k: [] for k in ("key", "op", "status", "ok", "error")}
            none = [None] * len(pdf)
            bodies = pdf[body_col] if body_col else none
            etags = pdf[etag_col] if etag_col else none
            for key, body, etag in zip(pdf[key_col], bodies, etags):
                status, resp = send(
                    f"{base}/{key}" if by_id else base,
                    method,
                    str(body).encode() if body_col else None,
                    {"If-Match": str(etag)} if etag is not None else None,
                )
                ok = 200 <= status < 300
                out["key"].append(str(key))
                out["op"].append(op)
                out["status"].append(status)
                out["ok"].append(ok)
                out["error"].append(None if ok else resp[:500].decode(errors="replace"))
            yield pd.DataFrame(out)

    cols = [c for c in (key_col, body_col, etag_col) if c]
    lanes = frame.sparkSession.sparkContext.defaultParallelism
    return frame.select(*cols).coalesce(lanes).mapInPandas(send_partition, OUTCOME_SCHEMA)


def rest_upsert(docs: DataFrame, sink: RestSink, *, key_col: str, json_col: str) -> DataFrame:
    """POST every document; returns an outcome DataFrame
    (key, op='upsert', status, ok, error) for the run report.

    docs must carry the natural key and the serialized JSON body
    (build with F.to_json(F.struct(...)) — ref R23).
    """
    return _send(docs, sink, "upsert", "POST", key_col, by_id=False, body_col=json_col)


def rest_delete(ids: DataFrame, sink: RestSink, *, id_col: str) -> DataFrame:
    """DELETE by resource id; outcome rows as in rest_upsert (ref R19)."""
    return _send(ids, sink, "delete", "DELETE", id_col, by_id=True)


def rest_update(
    docs: DataFrame,
    sink: RestSink,
    *,
    id_col: str,
    json_col: str,
    etag_col: str | None = None,
) -> DataFrame:
    """PUT by resource id with optimistic concurrency (ref R20,
    TeacherCandidatesApi.java:727): when etag_col is given, each request
    carries If-Match — a remote 412 (precondition failed) means the
    document changed since it was read, and is RECORDED like any other
    per-document failure."""
    return _send(
        docs, sink, "update", "PUT", id_col, by_id=True, body_col=json_col, etag_col=etag_col
    )


def serialize_json(value) -> str:
    """Canonical JSON for request bodies (sorted keys, compact)."""
    return json.dumps(value, sort_keys=True, separators=(",", ":"))
