"""Paginated REST source with OAuth2 client-credentials auth.

Replaces the reference's REST reads (ref R16/R22):
  * TokenRetriever.obtainNewBearerToken — POST form grant with Basic auth
    (/root/reference/banner-connector/src/main/java/org/edfi/sis/api/
    TokenRetriever.java:44-73),
  * get*Descriptors(offset=0, limit=100, ...) — which reads ONLY the first
    page, silently truncating vocabularies >100 rows
    (service/SisConnectorService.java:493, 694).

Engine fixes + scale design:
  * every page is read — no truncation, also when the server caps `limit`
    below the requested page size (offsets step by what it honoured);
  * when the endpoint reports a total count, pages are planned up front and
    fetched IN EXECUTORS via mapInPandas, one task per executor slot at
    most (driver never holds the dataset); several endpoints of one API
    are read by one such job (`read_rest_paths`);
  * 401 -> one token refresh + retry, per call (the reference's retry
    pattern, SisConnectorService.java:494-501), token re-fetchable inside
    executors from broadcast client credentials.

Only stdlib HTTP (urllib) — no extra dependencies.
"""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


@dataclass
class OAuthConfig:
    """OAuth2 client-credentials grant (TokenRetriever.java:44-73)."""

    token_url: str
    client_id: str
    client_secret: str


@dataclass
class RestSource:
    base_url: str
    path: str
    page_size: int = 500
    auth: OAuthConfig | None = None
    extra_params: dict[str, str] = field(default_factory=dict)
    timeout_sec: float = 30.0


def fetch_token(auth: OAuthConfig, timeout: float = 30.0) -> str:
    """POST grant_type=client_credentials with Basic auth; parse access_token."""
    basic = base64.b64encode(
        f"{auth.client_id}:{auth.client_secret}".encode()
    ).decode()
    req = urllib.request.Request(
        auth.token_url,
        data=b"grant_type=client_credentials",
        headers={
            "Authorization": f"Basic {basic}",
            "Content-Type": "application/x-www-form-urlencoded",
        },
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read())["access_token"]


def _get(url: str, token: str | None, timeout: float) -> tuple[int, bytes, dict]:
    headers = {"Accept": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


def _page_url(src: RestSource, offset: int, limit: int, total_count: bool = False) -> str:
    params = {"offset": str(offset), "limit": str(limit), **src.extra_params}
    if total_count:
        params["totalCount"] = "true"
    return f"{src.base_url.rstrip('/')}/{src.path.lstrip('/')}?" + urllib.parse.urlencode(params)


def _fetch(
    src: RestSource, offset: int, token: str | None, *, total_count: bool = False
) -> tuple[list[dict], dict, str | None]:
    """One page with the reference's 401-refresh-retry pattern; returns
    (rows, response headers, the token that succeeded)."""
    url = _page_url(src, offset, src.page_size, total_count)
    status, body, headers = _get(url, token, src.timeout_sec)
    if status == 401 and src.auth is not None:
        token = fetch_token(src.auth, src.timeout_sec)
        status, body, headers = _get(url, token, src.timeout_sec)
    if status != 200:
        raise OSError(f"REST GET {url} failed: HTTP {status}: {body[:200]!r}")
    return json.loads(body), headers, token


def iter_all_rows(src: RestSource, token: str | None = None) -> Iterator[dict]:
    """Every row, page by page (fixes the reference's first-page-only
    truncation). The offset advances by the rows the server actually sent,
    so a server that caps `limit` below `page_size` loses nothing; the walk
    ends at an empty page or at a page shorter than the largest one seen."""
    if token is None and src.auth is not None:
        token = fetch_token(src.auth, src.timeout_sec)
    offset = step = 0
    while True:
        page, _, token = _fetch(src, offset, token)
        yield from page
        if not page or len(page) < step:
            return
        step = max(step, len(page))
        offset += len(page)


def _plan_offsets(
    src: RestSource, token: str | None, total_count_header: str
) -> tuple[list[int] | None, str | None]:
    """Page offsets of `src` from one probe for a full first page with its
    total count; None when the endpoint reports no count. Offsets step by
    the page size the server honoured, which may be below `page_size`."""
    first, headers, token = _fetch(src, 0, token, total_count=True)
    total = next(
        (int(v) for k, v in headers.items() if k.lower() == total_count_header.lower()),
        None,
    )
    if total is None:
        return None, token
    step = len(first) if 0 < len(first) < src.page_size else src.page_size
    return list(range(0, total, step)), token


def get_by_id(
    src: RestSource, rid: str, *, etag: str | None = None, token: str | None = None
) -> tuple[int, dict | None, str | None]:
    """GET a single resource by id with optional If-None-Match conditional
    read (ref R20, TeacherCandidatesApi.java:508): returns (status, doc,
    etag); 304 -> (304, None, etag) meaning the cached copy is current."""
    if token is None and src.auth is not None:
        token = fetch_token(src.auth, src.timeout_sec)
    url = f"{src.base_url.rstrip('/')}/{src.path.lstrip('/')}/{rid}"
    headers = {"Accept": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    if etag is not None:
        headers["If-None-Match"] = str(etag)
    req = urllib.request.Request(url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=src.timeout_sec) as resp:
            status, body, hdrs = resp.status, resp.read(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        status, body, hdrs = e.code, e.read(), dict(e.headers)
    if status == 304:
        return 304, None, etag
    new_etag = next((v for k, v in hdrs.items() if k.lower() == "etag"), None)
    return status, (json.loads(body) if status == 200 and body else None), new_etag


def read_rest(
    spark: SparkSession,
    src: RestSource,
    schema: StructType,
    *,
    total_count_header: str = "Total-Count",
) -> DataFrame:
    """Paginated REST endpoint as a DataFrame: `read_rest_paths` over the
    one path `src.path` — a driver probe for the count and the page size
    the server honours, then executors fetch every page, one task per
    executor slot at most."""
    return read_rest_paths(
        spark, src, [src.path], schema, total_count_header=total_count_header
    )


def read_rest_paths(
    spark: SparkSession,
    src: RestSource,
    paths: list[str],
    schema: StructType,
    *,
    path_col: str | None = None,
    total_count_header: str = "Total-Count",
) -> DataFrame:
    """Several paginated endpoints of one API (`src` with each of `paths`)
    as ONE DataFrame read by one executor job.

    Scale path: the driver probes each path for a full first page and its
    count (limit=page_size, totalCount=true) and plans every page of every
    path as (path, offset); one `spark.range` over the page indices, with
    one slice per executor slot at most (`defaultParallelism`), feeds one
    mapInPandas that fetches the pages and parses JSON into `schema`. The
    driver holds only the page list. `path_col`, when given, adds a
    leading string column holding each row's path. An endpoint that
    reports no count is paginated sequentially on the driver (still
    complete, just not parallel).
    """
    token = fetch_token(src.auth, src.timeout_sec) if src.auth else None
    pages: list[tuple[str, int]] = []
    driver_rows: list[list] = []
    for path in paths:
        one = replace(src, path=path)
        offsets, token = _plan_offsets(one, token, total_count_header)
        if offsets is None:
            driver_rows += [
                ([path] if path_col else []) + [r.get(f.name) for f in schema.fields]
                for r in iter_all_rows(one, token)
            ]
        else:
            pages += [(path, off) for off in offsets]

    out_schema = StructType(
        ([StructField(path_col, StringType())] if path_col else []) + schema.fields
    )
    df = _fetch_pages(spark, src, pages, out_schema, token, path_col)
    if driver_rows:
        df = df.unionByName(spark.createDataFrame(driver_rows, out_schema))
    # Columns arrive as python objects; enforce declared types.
    return df.select(*[F.col(f.name).cast(f.dataType) for f in out_schema.fields])


def _fetch_pages(
    spark: SparkSession,
    src: RestSource,
    pages: list[tuple[str, int]],
    schema: StructType,
    token: str | None,
    path_col: str | None,
) -> DataFrame:
    """The executor fetch: page i of `pages` is (path, offset) under
    `src.base_url`, fetched with `src`'s page size, auth and parameters."""
    # spark.range plans the page indices as a pure-JVM Range scan (a
    # createDataFrame(list) plan is a Python-RDD scan + repartition
    # exchange re-executed per run)
    slices = max(1, min(len(pages), spark.sparkContext.defaultParallelism))
    plan = spark.range(0, len(pages), 1, slices)

    # Executor closure must be SELF-CONTAINED: cloudpickle serializes
    # module-level functions/classes by reference, and executor Python
    # workers need not have this package on sys.path. Close over plain data
    # and use only stdlib + pandas inside.
    base = src.base_url.rstrip("/")
    extra_params = dict(src.extra_params)
    page_size = src.page_size
    timeout = src.timeout_sec
    auth_tuple = (
        (src.auth.token_url, src.auth.client_id, src.auth.client_secret)
        if src.auth
        else None
    )
    field_names = [f.name for f in schema.fields if f.name != path_col]
    init_token = token

    def fetch_partition(batches):
        import base64 as _b64
        import json as _json
        import urllib.parse as _up
        import urllib.request as _ur
        import urllib.error as _ue

        import pandas as pd

        def _fetch_token():
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

        def _get_page(path, offset, tok):
            url = f"{base}/{path.lstrip('/')}?" + _up.urlencode(
                {"offset": str(offset), "limit": str(page_size), **extra_params}
            )
            headers = {"Accept": "application/json"}
            if tok:
                headers["Authorization"] = f"Bearer {tok}"
            try:
                with _ur.urlopen(_ur.Request(url, headers=headers), timeout=timeout) as r:
                    return r.status, r.read()
            except _ue.HTTPError as e:
                return e.code, e.read()

        tok = init_token
        for pdf in batches:
            for i in pdf["id"]:
                path, off = pages[int(i)]
                status, body = _get_page(path, off, tok)
                if status == 401 and auth_tuple is not None:
                    tok = _fetch_token()
                    status, body = _get_page(path, off, tok)
                if status != 200:
                    raise OSError(f"REST page {path} offset={off} failed: HTTP {status}")
                page = _json.loads(body)
                cols = {name: [r.get(name) for r in page] for name in field_names}
                if path_col:
                    cols = {path_col: [path] * len(page), **cols}
                yield pd.DataFrame(cols)

    return plan.mapInPandas(fetch_partition, schema=schema)
