"""A local stand-in for the Elasticsearch REST endpoints the sync mirror calls.

It serves exactly the surface ``pipeline.es_sink`` uses:

- ``POST /_bulk``: ``index`` and ``delete`` items; deleting a missing document
  answers ``not_found`` without setting ``errors``, as Elasticsearch does;
- ``GET /_alias/{a}`` (404 when the alias is absent) and ``POST /_aliases``;
- ``PUT /{i}/_settings``, ``POST /{i}/_refresh``;
- ``GET /{i}/_count``, resolving aliases;
- ``DELETE /{i,...}``.

Each physical index keeps one digest per document id, so the benchmark can
compare what the mirror holds with the expected live set without storing the
documents. Requests and request bytes are counted at the boundary.

Mirror timings in this benchmark are therefore measured against this stub on
localhost, not against a real cluster.
"""

from __future__ import annotations

import hashlib
import json
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def digest(source: bytes) -> bytes:
    return hashlib.blake2b(source, digest_size=16).digest()


class EsStub:
    def __init__(self) -> None:
        self.indexes: dict[str, dict[str, bytes]] = {}
        self.aliases: dict[str, set[str]] = {}
        self.settings: dict[str, dict] = {}
        self.requests: Counter[str] = Counter()
        self.bytes_in: Counter[str] = Counter()
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle --------------------------------------------------------
    def start(self) -> str:
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args) -> None:
                pass

            def _serve(self, method: str) -> None:
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n) if n else b""
                status, payload = stub.handle(method, self.path, body)
                raw = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def do_GET(self):
                self._serve("GET")

            def do_POST(self):
                self._serve("POST")

            def do_PUT(self):
                self._serve("PUT")

            def do_DELETE(self):
                self._serve("DELETE")

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="es-stub", daemon=True
        )
        self._thread.start()
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join()
            self._server = None

    # -- views the checks read --------------------------------------------
    def resolve(self, name: str) -> list[str]:
        if name in self.aliases:
            return sorted(self.aliases[name])
        return [name] if name in self.indexes else []

    def contents(self, name: str) -> dict[str, bytes]:
        """``{id: digest}`` of every document the alias (or index) serves."""
        with self._lock:
            out: dict[str, bytes] = {}
            for phys in self.resolve(name):
                out.update(self.indexes[phys])
            return out

    def counters(self) -> dict[str, int]:
        with self._lock:
            return {
                "bulk_requests": self.requests["_bulk"],
                "bulk_bytes": self.bytes_in["_bulk"],
                "bulk_index_items": self.requests["bulk.index"],
                "bulk_delete_items": self.requests["bulk.delete"],
            }

    # -- request dispatch -------------------------------------------------
    def handle(self, method: str, path: str, body: bytes):
        route = path.split("?", 1)[0].strip("/")
        parts = route.split("/") if route else []
        endpoint = next((p for p in parts if p.startswith("_")), "index")
        with self._lock:
            self.requests[endpoint] += 1
            self.bytes_in[endpoint] += len(body)
            if method == "POST" and parts == ["_bulk"]:
                return self._bulk(body)
            if method == "GET" and len(parts) == 2 and parts[0] == "_alias":
                return self._get_alias(parts[1])
            if method == "POST" and parts == ["_aliases"]:
                return self._update_aliases(json.loads(body))
            if len(parts) == 2 and parts[1] in ("_settings", "_refresh", "_count"):
                phys = self.resolve(parts[0])
                if not phys:
                    return _missing(parts[0])
                if parts[1] == "_count" and method == "GET":
                    return 200, {
                        "count": sum(len(self.indexes[p]) for p in phys)
                    }
                if parts[1] == "_settings" and method == "PUT":
                    for p in phys:
                        self.settings.setdefault(p, {}).update(
                            json.loads(body).get("index", {})
                        )
                    return 200, {"acknowledged": True}
                if parts[1] == "_refresh" and method == "POST":
                    return 200, {"_shards": {"failed": 0}}
            if method == "DELETE" and len(parts) == 1:
                names = parts[0].split(",")
                missing = [n for n in names if n not in self.indexes]
                if missing:
                    return _missing(missing[0])
                for n in names:
                    del self.indexes[n]
                    self.settings.pop(n, None)
                    for members in self.aliases.values():
                        members.discard(n)
                self.aliases = {a: m for a, m in self.aliases.items() if m}
                return 200, {"acknowledged": True}
        return 400, {"error": f"unsupported {method} /{route}", "status": 400}

    def _bulk(self, body: bytes):
        lines = body.split(b"\n")
        items, errors, i = [], False, 0
        while i < len(lines):
            if not lines[i].strip():
                i += 1
                continue
            (op, meta), = json.loads(lines[i]).items()
            name, doc_id = meta["_index"], str(meta["_id"])
            phys = self.resolve(name)
            if op == "index":
                source = lines[i + 1]
                i += 2
                if len(phys) > 1:
                    errors = True
                    items.append({op: {"_index": name, "_id": doc_id,
                                       "status": 400,
                                       "error": {"type": "illegal_argument_exception"}}})
                    continue
                target = phys[0] if phys else name
                docs = self.indexes.setdefault(target, {})
                created = doc_id not in docs
                docs[doc_id] = digest(source)
                self.requests["bulk.index"] += 1
                items.append({op: {"_index": target, "_id": doc_id,
                                   "result": "created" if created else "updated",
                                   "status": 201 if created else 200}})
            elif op == "delete":
                i += 1
                self.requests["bulk.delete"] += 1
                if len(phys) != 1:
                    errors = True
                    items.append({op: {"_index": name, "_id": doc_id,
                                       "status": 404,
                                       "error": {"type": "index_not_found_exception"}}})
                    continue
                found = self.indexes[phys[0]].pop(doc_id, None) is not None
                items.append({op: {"_index": phys[0], "_id": doc_id,
                                   "result": "deleted" if found else "not_found",
                                   "status": 200 if found else 404}})
            else:
                return 400, {"error": f"unsupported bulk op {op}", "status": 400}
        return 200, {"took": 1, "errors": errors, "items": items}

    def _get_alias(self, alias: str):
        if alias not in self.aliases:
            return 404, {"error": f"alias [{alias}] missing", "status": 404}
        return 200, {p: {"aliases": {alias: {}}} for p in sorted(self.aliases[alias])}

    def _update_aliases(self, payload: dict):
        new = {a: set(m) for a, m in self.aliases.items()}
        for action in payload.get("actions", []):
            (kind, spec), = action.items()
            if spec["index"] not in self.indexes:
                return _missing(spec["index"])
            if kind == "add":
                new.setdefault(spec["alias"], set()).add(spec["index"])
            elif kind == "remove":
                new.get(spec["alias"], set()).discard(spec["index"])
        self.aliases = {a: m for a, m in new.items() if m}
        return 200, {"acknowledged": True}


def _missing(name: str):
    return 404, {
        "error": {"type": "index_not_found_exception", "index": name},
        "status": 404,
    }
