"""HTTP query endpoint over a knowledge graph — the CPGQLServer analog
(``console/src/main/scala/io/shiftleft/console/cpgqlserver/CPGQLServer.scala``:
the reference serves console queries over HTTP with a sync endpoint and JSON
responses; entry point 3 of SURVEY.md §1.2, completing the ``tools/kgql.py``
REPL/CLI pair with a long-lived queryable service).

Endpoints (JSON in/out — the reference's API shape:
``CPGQLServer.scala`` ``@cask.postJson("/query")`` returning a uuid and
``@cask.get("/result/:uuidParam")`` fetching it; the websocket push channel
is replaced by polling, the stdlib-http tradeoff):
  POST /query-sync   {"query": "<kgql line>"}
                     -> {"success": true, "stdout": "<rendered result>"}
                     |  {"success": false, "error": "<message>"}
  POST /query        {"query": "<kgql line>"} -> {"success": true, "uuid": "..."}
                     (evaluation runs on a worker thread)
  GET  /result/<uuid> -> 200 {"success": ..., "stdout"|"error": ...} when done
                      | 202 {"success": false, "pending": true} while running
                      | 404 for an unknown uuid; results are single-read
                        (fetched once then dropped, bounding memory)
  GET  /help         -> {"success": true, "stdout": "<dsl help>"}
  GET  /health       -> {"success": true}

**Trust model.** Queries are evaluated by ``kgql.evaluate``, which executes
console-DSL expressions with Python ``eval`` — exactly as the reference's
CPGQLServer hands queries to an Ammonite Scala interpreter. Anyone who can
reach this endpoint can run arbitrary code in the server process, so the
server (a) refuses to bind a non-loopback interface unless BOTH a shared
secret token and ``--allow-remote`` are given (the reference supports HTTP
basic auth for the same reason, CPGQLServer.scala ``basicAuth``), and
(b) when a token is configured — ``--token`` or ``$KGQL_TOKEN`` — every
request except ``/health`` must carry it in an ``Authorization: Bearer
<token>`` or ``X-Kgql-Token`` header (401 otherwise).

Async results are bounded: at most ``MAX_RESULTS`` unfetched payloads are
retained and each expires after ``RESULT_TTL_SEC`` — a client that posts
queries and never polls cannot grow the server without bound (VERDICT r4).

One Spark driver serves all requests; evaluation is serialized behind a lock
(the reference's ammonite console is likewise single-user per session). The
graph is loaded ONCE at startup — warehouse, corpus tier, or interchange
bundle — and every query plans against the same cached GraphView frames, so
serving cost is per-query Spark job time, not reload time.

Usage:
    python tools/kgql_server.py --sf-dir sf0.001 --port 8845
    curl -s -XPOST localhost:8845/query-sync -d '{"query": "g.turns().count()"}'
"""

from __future__ import annotations

import argparse
import hmac
import ipaddress
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import kgql  # noqa: E402

MAX_RESULTS = 256          # unfetched async payloads retained at most
RESULT_TTL_SEC = 600.0     # ...and for at most this long


def _is_loopback(host: str) -> bool:
    if host in ("localhost", ""):
        return True
    try:
        return ipaddress.ip_address(host).is_loopback
    except ValueError:
        return False


def make_handler(g, lock: threading.Lock, token: str | None = None,
                 clock=time.monotonic):
    results: dict[str, tuple[float, dict]] = {}   # uuid -> (done_at, payload)
    pending: set[str] = set()
    state_lock = threading.Lock()

    def evict_locked() -> None:
        # caller holds state_lock; drop expired entries, then oldest overflow
        now = clock()
        for qid in [q for q, (t, _) in results.items() if now - t > RESULT_TTL_SEC]:
            del results[qid]
        while len(results) > MAX_RESULTS:
            oldest = min(results, key=lambda q: results[q][0])
            del results[oldest]

    def run_async(qid: str, query: str) -> None:
        try:
            with lock:
                out = kgql.evaluate(g, query)
            payload = {"success": True, "stdout": out}
        except Exception as exc:
            payload = {"success": False, "error": str(exc)}
        with state_lock:
            pending.discard(qid)
            results[qid] = (clock(), payload)
            evict_locked()

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet: logs go nowhere in tests
            pass

        def _authorized(self) -> bool:
            if token is None:
                return True
            auth = self.headers.get("Authorization", "")
            got = auth[7:] if auth.startswith("Bearer ") else \
                self.headers.get("X-Kgql-Token", "")
            return hmac.compare_digest(got, token)

        def do_GET(self):
            if self.path == "/health":
                self._send(200, {"success": True})
                return
            if not self._authorized():
                self._send(401, {"success": False, "error": "missing or bad token"})
                return
            if self.path == "/help":
                with lock:
                    out = kgql.evaluate(g, ":help")
                self._send(200, {"success": True, "stdout": out})
            elif self.path.startswith("/result/"):
                qid = self.path.rsplit("/", 1)[1]
                with state_lock:
                    if qid in pending:
                        self._send(202, {"success": False, "pending": True})
                        return
                    evict_locked()
                    entry = results.pop(qid, None)
                if entry is None:
                    self._send(404, {"success": False, "error": "unknown uuid"})
                else:
                    self._send(200, entry[1])
            else:
                self._send(404, {"success": False, "error": "unknown endpoint"})

        def _read_query(self):
            n = int(self.headers.get("Content-Length", "0"))
            req = json.loads(self.rfile.read(n) or b"{}")
            return req["query"]

        def do_POST(self):
            if self.path not in ("/query-sync", "/query"):
                self._send(404, {"success": False, "error": "unknown endpoint"})
                return
            if not self._authorized():
                self._send(401, {"success": False, "error": "missing or bad token"})
                return
            try:
                query = self._read_query()
            except Exception as exc:
                self._send(400, {"success": False, "error": f"bad request: {exc}"})
                return
            if self.path == "/query":
                import uuid as _uuid

                qid = str(_uuid.uuid4())
                with state_lock:
                    pending.add(qid)
                threading.Thread(
                    target=run_async, args=(qid, query), daemon=True
                ).start()
                self._send(200, {"success": True, "uuid": qid})
                return
            try:
                with lock:
                    out = kgql.evaluate(g, query)
                self._send(200, {"success": True, "stdout": out})
            except Exception as exc:  # query errors are responses, not crashes
                self._send(200, {"success": False, "error": str(exc)})

    return Handler


def serve(g, host: str = "127.0.0.1", port: int = 8845,
          token: str | None = None, allow_remote: bool = False,
          clock=time.monotonic) -> ThreadingHTTPServer:
    """Build a server bound to (host, port); port 0 picks a free port.
    Caller runs ``server.serve_forever()`` (or a thread does) and
    ``server.shutdown()`` to stop. Refuses non-loopback binds unless a
    token is set AND allow_remote is explicit — the endpoint evals queries
    (see module docstring)."""
    if not _is_loopback(host) and not (token and allow_remote):
        raise ValueError(
            f"refusing to bind non-loopback host {host!r}: the query endpoint "
            "evaluates arbitrary expressions; pass --token AND --allow-remote "
            "to expose it beyond localhost"
        )
    return ThreadingHTTPServer(
        (host, port), make_handler(g, threading.Lock(), token=token, clock=clock)
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--bundle", default=None)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8845)
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--token", default=os.environ.get("KGQL_TOKEN"),
                    help="shared secret required in Authorization: Bearer / "
                         "X-Kgql-Token headers (default: $KGQL_TOKEN)")
    ap.add_argument("--allow-remote", action="store_true",
                    help="permit binding a non-loopback --host "
                         "(requires --token; the endpoint evals queries)")
    args = ap.parse_args(argv)
    if not args.sf_dir and not args.warehouse and not args.bundle:
        ap.error("need --sf-dir, --warehouse or --bundle")

    from codepropertygraph_spark.session import get_spark

    spark = get_spark(app_name="kgql-server", master=args.master)
    if args.bundle:
        g = kgql.build_view_from_bundle(spark, args.bundle)
    elif args.warehouse:
        g = kgql.build_view_from_warehouse(spark, args.warehouse)
    else:
        g = kgql.build_view_from_corpus(spark, args.sf_dir)
    server = serve(g, args.host, args.port, token=args.token,
                   allow_remote=args.allow_remote)
    print(f"kgql-server listening on {args.host}:{server.server_address[1]}",
          file=sys.stderr)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
