"""The benchmark's own Ed-Fi-style REST endpoint.

A small stdlib HTTP server, kept inside the benchmark so that a change to
the project's test stub cannot move the benchmark's numbers. It serves:

* ``POST /oauth/token``: client-credentials grant, one token per call;
* ``GET /<vocabulary>Descriptors`` and ``GET /tpdm/teacherCandidates``:
  offset/limit pages (capped at ``PAGE_CAP``) with a ``Total-Count`` header;
* ``POST /tpdm/teacherCandidates``: upsert on the natural key;
* ``DELETE /tpdm/teacherCandidates/<id>``: delete by resource id.

Every request is counted. Requests the sync job should never make (an
unknown route, a missing token, a delete of an unknown id) are answered
with an error status and counted as ``unexpected``.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PAGE_CAP = 100
RESOURCE = "/tpdm/teacherCandidates"
KEY = "teacherCandidateIdentifier"


class SyncServer:
    """Context manager around a ThreadingHTTPServer on an ephemeral port.

    ``vocabularies``: name -> rows served at ``/<name>Descriptors``.
    ``reset(remote_keys)`` sets the documents the API holds before a sync.
    """

    def __init__(self, vocabularies: dict[str, list[dict]]) -> None:
        self.vocabularies = vocabularies
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.reset([])

    def reset(self, remote_keys: list[str]) -> None:
        """Hold one stub document per key and zero every counter."""
        with self._lock:
            self.store = {k: {KEY: k, "id": f"rid-{k}"} for k in remote_keys}
            self.ids = {doc["id"]: k for k, doc in self.store.items()}
            self.posted: set[str] = set()
            self.deleted: list[str] = []
            self.counts = {
                "requests": 0, "connections": 0, "token_requests": 0,
                "gets": 0, "upserts": 0, "duplicate_upserts": 0,
                "deletes": 0, "unexpected": 0,
            }
            self.handler_s = 0.0

    def snapshot(self) -> dict[str, dict]:
        with self._lock:
            return {k: dict(v) for k, v in self.store.items()}

    def _count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    # -- lifecycle -----------------------------------------------------
    def __enter__(self) -> SyncServer:
        srv = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1 so that a client that keeps connections open can
            # reuse them; urllib sends "Connection: close" and does not
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def setup(self):
                super().setup()
                srv._count("connections")

            def _reply(self, status: int, body: bytes = b"", headers=None):
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> bytes:
                return self.rfile.read(int(self.headers.get("Content-Length", 0)))

            def _authorized(self) -> bool:
                if self.headers.get("Authorization", "").startswith("Bearer tok-"):
                    return True
                srv._count("unexpected")
                self._reply(401, b'{"error":"missing token"}')
                return False

            def _timed(self, fn):
                t0 = time.perf_counter()
                try:
                    srv._count("requests")
                    fn()
                finally:
                    with srv._lock:
                        srv.handler_s += time.perf_counter() - t0

            def _unexpected(self):
                srv._count("unexpected")
                self._reply(404, b'{"error":"no such route"}')

            def do_POST(self):
                self._timed(self._post)

            def do_GET(self):
                self._timed(self._get)

            def do_DELETE(self):
                self._timed(self._delete)

            def do_PUT(self):
                self._timed(self._unexpected)

            def _post(self):
                body = self._body()
                if self.path == "/oauth/token":
                    with srv._lock:
                        srv.counts["token_requests"] += 1
                        n = srv.counts["token_requests"]
                    self._reply(200, json.dumps({"access_token": f"tok-{n}"}).encode())
                    return
                if self.path != RESOURCE:
                    return self._unexpected()
                if not self._authorized():
                    return
                doc = json.loads(body)
                key = doc.get(KEY)
                if not isinstance(key, str):
                    return self._unexpected()
                with srv._lock:
                    srv.counts["upserts"] += 1
                    if key in srv.posted:
                        srv.counts["duplicate_upserts"] += 1
                    srv.posted.add(key)
                    rid = srv.store.get(key, {}).get("id", f"rid-{key}")
                    srv.store[key] = {**doc, "id": rid}
                    srv.ids[rid] = key
                self._reply(200, b"{}")

            def _delete(self):
                prefix = RESOURCE + "/"
                if not self.path.startswith(prefix):
                    return self._unexpected()
                if not self._authorized():
                    return
                rid = self.path[len(prefix):]
                with srv._lock:
                    key = srv.ids.pop(rid, None)
                    if key is not None:
                        del srv.store[key]
                        srv.deleted.append(rid)
                        srv.counts["deletes"] += 1
                if key is None:
                    return self._unexpected()
                self._reply(204)

            def _get(self):
                if not self._authorized():
                    return
                parsed = urllib.parse.urlparse(self.path)
                qs = urllib.parse.parse_qs(parsed.query)
                if parsed.path == RESOURCE:
                    with srv._lock:
                        rows = [
                            {KEY: k, "id": d["id"]}
                            for k, d in sorted(srv.store.items())
                        ]
                elif (
                    parsed.path.endswith("Descriptors")
                    and parsed.path[1:-len("Descriptors")] in srv.vocabularies
                ):
                    rows = srv.vocabularies[parsed.path[1:-len("Descriptors")]]
                else:
                    return self._unexpected()
                srv._count("gets")
                offset = int(qs.get("offset", ["0"])[0])
                limit = min(int(qs.get("limit", ["100"])[0]), PAGE_CAP)
                self._reply(
                    200,
                    json.dumps(rows[offset:offset + limit]).encode(),
                    {"Total-Count": str(len(rows))},
                )

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"
