"""HTTP serving layer — the reference's route surface over the engine.

The reference IS an HTTP gateway: named-query routes
(`/root/reference/index.js:264-325`), a self-description endpoint
(`index.js:371-425`), dataType introspection (`index.js:383-392` via
`examineQuery`, `lib/examiner.js:139-160`), a generic paged relation
list + point/sub-record reads (`index.js:431-585`), CRUD write stubs
(`index.js:427-429,587-593` — "NIY" in the reference itself), an
auth endpoint that stores plugin sessions (`index.js:595-639`), and
external REST passthrough (`makeRESTroute`, `index.js:327-366`).
This module serves all of that over the Spark engine with a
zero-dependency stdlib server:

    GET  /                                   self-description (routes + catalogs)
    GET  /q/<db>/<qname>[/p1[/p2...]]        named template, positional params
    GET  /query/<qname>[/p1[/p2...]]         legacy alias (index.js:323-324)
    GET  /dt/<db>/<qname>                    output schema of a template (extension)
    GET  /db/<db>/rel/<relation>             paged generic list (page/perpage/sortby)
    GET  /db/<db>/rel/<relation>/<id>        point record by pk (index.js:496-533)
    GET  /db/<db>/rel/<relation>/<id>/<sub>  child list by FK (index.js:536-585)
    POST /db/<db>/rel/<relation>[/<id>]      CRUD stubs — {ok:false,error:"NIY"}
    DELETE /db/<db>/rel/<relation>/<id>      CRUD stub  — {ok:false,error:"NIY"}
    POST /auth                               token mint + plugin auth (index.js:595-639)
    GET  /ffi/<service>/<path...>            external REST passthrough proxy
    GET  /run/<qname>[?limit=N]              any registered engine query (extension)

RESPONSE ENVELOPE — reference parity (`index.js:253-262`): success is
`{"ok": true, "results": [...]}` (`itsGood` merges `ok:true` into the
payload; point reads use `"row"`), and HANDLED errors are **HTTP 200**
`{"ok": false, "error": msg}` (`sendError` — express `res.send`
defaults to 200). Only transport-level faults (unroutable path,
unexpected server exception) use real 404/500 codes, as express
itself would. The root `/` self-description is unwrapped, exactly
like the reference's `showAPI` (`res.send(routes)`, no envelope).

Parity notes: positional params arrive as strings exactly like the
reference's auto-quoted `?` substitution (`README.md:153,184`) —
binding is value-only (injection-safe), Spark coerces types at the
comparison. /dt upgrades the reference's regex field-name inference
to Catalyst's exact typed schema whenever the template is analyzable
without parameters, and falls back to the same SELECT-list parse the
reference uses (`examiner.js:82-160`) when it is not.

Sessions (G8): every request passes the gateKeeper
(`index.js:196-219`): a `token` query/body param naming a SAVED
session attaches it; anything else gets a fresh unsaved one. The
store lives in `sessions.py`; `/auth` is the one place sessions are
saved (`index.js:617-630`), via auth plugins registered in
`plugins.py` (the reference's `plugins[service].auth` contract,
`plugins/salesforce.js:11-14`).

Scale note: this is a control-plane front door for the CATALOG, not a
data plane — results collect on the gateway like the reference's own
JSON responses. At 100 TB interactive routes serve pre-aggregated
rollups (q_rollup_serve) or paged lists; bulk results belong in sinks
(parquet/ORC/CSV writers), not HTTP bodies.
"""

from __future__ import annotations

import contextlib
import json
import logging
import re
import ssl
import threading
import urllib.error
import urllib.request
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from data_wrangler_spark.engine import Engine
from data_wrangler_spark.gateway import reference_catalog
from data_wrangler_spark.plans.templates import (
    AmbiguousTemplateError,
    MissingParameterError,
)
from data_wrangler_spark.plugins import AUTH_PLUGINS
from data_wrangler_spark.sessions import Session, SessionStore

_SELECT_RE = re.compile(r"^\s*select\s+(.+?)\s+from\b.*$", re.I | re.S)

# the reference's input defense (`lib/examiner.js:37-39`), verbatim
_ALNUM_RE = re.compile(r"^[\sA-Za-z0-9_\-.]+$")
_UUID_RE = re.compile(
    r"^[A-Fa-f0-9]{8}-?[A-Fa-f0-9]{4}-?[A-Fa-f0-9]{4}-?"
    r"[A-Fa-f0-9]{4}-?[A-Fa-f0-9]{12}$"
)
_SQL_COMMENT_RE = re.compile(r"--+")

DEFAULT_RUN_LIMIT = 100


# upstream headers the /ffi proxy relays verbatim. The reference's
# `request(...).pipe(res)` (`index.js:356-360`) streams ALL upstream
# headers; urllib gives us the parsed set, so we pass through the ones
# that change how a client must interpret the body. Content-Encoding
# matters most: urlopen does NOT decompress, so a gzip body relayed
# without it would be garbled (ADVICE r6).
_RELAY_HEADERS = (
    "Content-Type",
    "Content-Encoding",
    "Cache-Control",
    "ETag",
    "Last-Modified",
)


class RawRelay(bytes):
    """Raw upstream relay body — bytes plus the upstream response
    headers worth passing through (`_RELAY_HEADERS`), so the /ffi
    proxy behaves like the reference's `request(...).pipe(res)`
    (`index.js:356-360`) instead of forcing application/octet-stream
    and dropping the transfer encoding."""

    ctype: str = "application/octet-stream"

    def __new__(cls, body: bytes, headers=None):
        self = super().__new__(cls, body)
        relay: dict[str, str] = {}
        if headers is not None:
            get = headers.get if hasattr(headers, "get") else None
            for h in _RELAY_HEADERS:
                v = get(h) if get else None
                if v:
                    relay[h] = v
        self.headers = relay
        if relay.get("Content-Type"):
            self.ctype = relay["Content-Type"]
        return self

# Spark error classes that mean "the client's value could not meet the
# column type" — the reference's 400-invalid-parameter case
# (examiner.js:70-80), not a server fault
_INPUT_SHAPED = (
    "CAST_INVALID_INPUT",
    "ARITHMETIC_OVERFLOW",
    "CANNOT_PARSE",
    "NUMBER_FORMAT",
    "INVALID_PARAMETER",
)

# The reference ships one external service in its config
# (`config.json:41-53`); the same shape is the default here so a
# reference user's /ffi/WorldBank/... URLs resolve unchanged.
DEFAULT_FOREIGNERS: list[dict] = [
    {
        "name": "WorldBank",
        "baseURI": "http://api.worldbank.org/countries",
        "routes": [
            {
                "method": "get",
                "localpath": "/countrydata/$country/$fromYear/$toYear",
                "path": "/{{ country }}/indicators/NY.GDP.PCAP.CD"
                "?format=json&date={{ fromYear }}:{{ toYear }}",
            }
        ],
    }
]


def parse_select_fields(sql: str) -> list[str]:
    """The reference's name-only field inference (`examineQuery`,
    `lib/examiner.js:139-160`): split the SELECT list on top-level
    commas (paren-aware, so `f(a, b) AS x` is one column —
    `parseColspec`, `examiner.js:82-137`), then take the alias (last
    whitespace token) or the name after the last dot. `select *`
    defeats inference, exactly as it does in the reference."""
    m = _SELECT_RE.match(sql)
    if not m:
        return []
    spec, fields, depth, cur = m.group(1), [], 0, []
    for ch in spec:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            fields.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        fields.append("".join(cur).strip())

    def name_of(col: str) -> str:
        tok = col.split()[-1] if col.split() else col
        return tok.rsplit(".", 1)[-1]

    return [name_of(c) for c in fields if c]


def validate_query_vars(vals: dict[str, str | None]) -> tuple[bool, object]:
    """`examiner.validateQueryVars` (`lib/examiner.js:162-196`):
    required, no SQL comments, alphanumeric-or-UUID. Returns
    (ok, results-or-error-message)."""
    out, fail = {}, []
    for name, val in vals.items():
        if not val:
            fail.append(f'Parameter "{name}" is required!\n')
            continue
        if _SQL_COMMENT_RE.search(val):
            fail.append("SQL comments are forbidden as inputs.")
            continue
        if not (_UUID_RE.match(val) or _ALNUM_RE.match(val)):
            fail.append("Query parameters must be alphanumeric.")
            continue
        out[name] = val
    if fail:
        return False, "\n".join(fail)
    return True, out


_QVAR_RE = re.compile(r"\$(\w+)")
_HB_RE = re.compile(r"\{\{\s*(\w+)\s*\}\}")


def _rows_json(df: DataFrame, limit: int | None = None) -> list[dict]:
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


def _ok(payload: dict) -> tuple[int, dict]:
    """`itsGood` (`index.js:254-258`): merge ok:true into the payload."""
    return 200, {**payload, "ok": True}


def _err(msg: object) -> tuple[int, dict]:
    """`sendError` (`index.js:260-262`): HTTP 200, ok:false."""
    return 200, {"ok": False, "error": str(msg)}


def listen_port(config_port: int, debug: bool = False) -> int:
    """`--debug` flips the listener to 4401 regardless of the
    configured port (`index.js:47-48`) — the reference's documented
    workflow for running a debug instance side-by-side with prod."""
    return 4401 if debug else config_port


def _ssl_context(ssl_config: dict) -> ssl.SSLContext:
    """Server TLS context from the reference's config shape
    (`config.json:4-9` → `index.js:160-167`): `cert`/`key` become the
    server chain, `ca` (optional) the trust anchors — the same three
    file paths node's https.createServer takes."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile=ssl_config["cert"], keyfile=ssl_config["key"])
    if ssl_config.get("ca"):
        ctx.load_verify_locations(cafile=ssl_config["ca"])
    return ctx


class GatewayServer:
    """Threaded stdlib HTTP(S) server over Engine + the reference
    catalog. Port 0 picks a free port (tests); `base_url` after
    start(). One Spark session serves all requests — the gateway is
    a thin routing shim, exactly like the reference. An `ssl_config`
    dict with `enabled: true` serves HTTPS exactly as the reference
    does when `config.ssl.enabled` (`index.js:160-167`); `debug=True`
    mirrors `--debug` (listen on 4401, `index.js:47-48`)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        foreigners: list[dict] | None = None,
        ssl_config: dict | None = None,
        debug: bool = False,
    ):
        port = listen_port(port, debug)
        self.engine = Engine(spark, sf_dir)
        self.templates = reference_catalog(spark, sf_dir)
        self.spark = spark
        self.sessions = SessionStore()
        self.foreigners = {
            f["name"]: f
            for f in (DEFAULT_FOREIGNERS if foreigners is None else foreigners)
        }
        # configured plugin services (`config.json` plugins block →
        # `index.js:139-156` mounts each plugin's query routes at
        # /<pname>/query/<qname>); the reference ships one
        self.plugin_services = {"salesforce"} & {
            n.partition(".")[0] for n in self.templates.names() if "." in n
        }
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # bounded socket reads: with non-daemon handler threads
            # (stop() joins them), an idle client that opened a
            # connection and sent nothing would otherwise block
            # rfile.readline() forever and hang stop(); on timeout the
            # handler closes the connection and exits
            timeout = 10

            def log_message(self, *a):  # quiet test logs
                pass

            def _send(self, code: int, payload) -> None:
                relay_headers: dict[str, str] = {}
                if isinstance(payload, bytes):  # /ffi raw relay
                    body = payload
                    ctype = getattr(
                        payload, "ctype", "application/octet-stream"
                    )
                    relay_headers = {
                        k: v
                        for k, v in getattr(payload, "headers", {}).items()
                        if k != "Content-Type"  # sent below
                    }
                else:
                    body = json.dumps(payload, default=str).encode()
                    ctype = "application/json"
                self.send_response(code)
                # gateKeeper CORS headers on every response
                # (index.js:194-196)
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header(
                    "Access-Control-Allow-Methods", "GET,PUT,POST,DELETE,OPTIONS"
                )
                self.send_header(
                    "Access-Control-Allow-Headers",
                    "Content-Type, Authorization, Content-Length, X-Requested-With",
                )
                self.send_header("Content-Type", ctype)
                for k, v in relay_headers.items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                if outer._shutting_down:
                    # stop() has begun: break keep-alive so a client
                    # pipelining requests on an open connection can't
                    # reset the socket timeout forever and stall the
                    # non-daemon handler join — drain is bounded to
                    # the one in-flight request per connection
                    self.send_header("Connection", "close")
                    self.close_connection = True
                self.end_headers()
                self.wfile.write(body)

            def _dispatch(self, method: str) -> None:
                # one FAIR-scheduler pool per request thread: under
                # spark.scheduler.mode=FAIR (session.py) concurrent
                # requests share the cluster fairly instead of
                # head-of-line blocking behind one big scan; local
                # properties are per-thread, and ThreadingHTTPServer
                # gives each connection its own thread. The pool name
                # is the thread ident FOLDED INTO 64 SLOTS: Spark's
                # FAIR scheduler retains every named pool in the root
                # pool forever, so per-ident names would accumulate
                # unboundedly under connection churn (ADVICE r8 #5) —
                # 64 slots keep concurrent requests in (almost always)
                # distinct pools while bounding the root pool's size.
                try:
                    outer.spark.sparkContext.setLocalProperty(
                        "spark.scheduler.pool",
                        f"gw-{threading.get_ident() % 64}",
                    )
                except Exception:
                    pass  # foreign session without a live context
                body = {}
                clen = int(self.headers.get("Content-Length") or 0)
                if clen:
                    try:
                        body = json.loads(self.rfile.read(clen) or b"{}")
                    except json.JSONDecodeError:
                        body = {}
                try:
                    code, payload = outer.route(self.path, method=method, body=body)
                except Exception as exc:  # defensive 500, like express
                    code, payload = 500, {"ok": False, "error": str(exc)}
                self._send(code, payload)

            def do_GET(self) -> None:  # noqa: N802 (stdlib contract)
                self._dispatch("GET")

            def do_OPTIONS(self) -> None:  # noqa: N802
                # CORS preflight short-circuits with a bare 200
                # (gateKeeper, index.js:198-201)
                self._send(200, {})

            def do_POST(self) -> None:  # noqa: N802
                self._dispatch("POST")

            def do_DELETE(self) -> None:  # noqa: N802
                self._dispatch("DELETE")

        class _DrainingHTTPServer(ThreadingHTTPServer):
            # non-daemon handler threads: server_close() (via
            # ThreadingMixIn.block_on_close) then JOINS any in-flight
            # handler before returning, so stop() really does drain
            # requests before releasing engine caches (ADVICE r6 —
            # with the stdlib default daemon_threads=True, stop()
            # could return mid-request)
            daemon_threads = False

            # TLS is wrapped PER ACCEPTED CONNECTION, not on the
            # listening socket: wrapping the listener runs the
            # handshake inside accept() on the single serve_forever
            # thread, so one client stalling mid-handshake would block
            # ALL new connections (ADVICE r8 #1 — node's https server
            # has no such bottleneck). Here accept() only wraps
            # (cheap, no IO) and the handshake runs in the
            # per-connection handler thread under a socket timeout.
            tls_context: ssl.SSLContext | None = None
            TLS_HANDSHAKE_TIMEOUT = 10.0

            def get_request(self):
                sock, addr = self.socket.accept()
                if self.tls_context is not None:
                    sock.settimeout(self.TLS_HANDSHAKE_TIMEOUT)
                    sock = self.tls_context.wrap_socket(
                        sock, server_side=True, do_handshake_on_connect=False
                    )
                return sock, addr

            def process_request_thread(self, request, client_address):
                if self.tls_context is not None:
                    try:
                        request.do_handshake()
                        # post-handshake I/O is governed by
                        # Handler.timeout = 10 (StreamRequestHandler.
                        # setup() re-applies it to the socket), the
                        # DELIBERATE bounded-read contract that keeps
                        # stop() from hanging on idle clients — so no
                        # timeout reset is needed or wanted here.
                    except (ssl.SSLError, OSError) as exc:
                        # bad/stalled handshake kills only this
                        # connection's thread — accept() never waited.
                        # Logged so cert/cipher/protocol misconfig is
                        # visible to operators instead of silently
                        # dropped connections (ADVICE r9 #4).
                        logging.getLogger(__name__).warning(
                            "TLS handshake failed from %s: %s",
                            client_address,
                            exc,
                        )
                        self.shutdown_request(request)
                        return
                    except Exception:
                        # any other handshake failure must still
                        # close the accepted socket — without this
                        # the fd leaks until GC (ADVICE r10 #3).
                        logging.getLogger(__name__).error(
                            "unexpected TLS handshake error from %s",
                            client_address,
                            exc_info=True,
                        )
                        self.shutdown_request(request)
                        return
                super().process_request_thread(request, client_address)

        self.httpd = _DrainingHTTPServer((host, port), Handler)
        self._tls = bool(ssl_config and ssl_config.get("enabled"))
        if self._tls:
            self.httpd.tls_context = _ssl_context(ssl_config)
        self._thread: threading.Thread | None = None
        self._run_lock = threading.Lock()
        self._shutting_down = False

    # ── gateKeeper (`index.js:196-219`) ──────────────────────────
    def gate(self, token: str | None) -> Session:
        """A token naming a SAVED session reuses it; anything else
        gets a fresh, unsaved session — saving is /auth's explicit
        act. Attached per request like the reference's `req.iq`."""
        return self.sessions.resolve(token)

    # ── routing (pure function of the request — unit-testable) ───
    def route(
        self, path: str, method: str = "GET", body: dict | None = None
    ) -> tuple[int, object]:
        body = body or {}
        url = urlparse(path)
        parts = [unquote(p) for p in url.path.split("/") if p]
        q = {k: v[-1] for k, v in parse_qs(url.query).items()}
        # gateKeeper: every request carries a session (req.iq)
        req_session = self.gate(q.get("token") or body.get("token"))

        if not parts:
            return 200, self._describe_root()
        try:
            if method == "GET":
                if parts[0] == "q" and len(parts) >= 3:
                    return self._named_query(f"{parts[1]}.{parts[2]}", parts[3:], q)
                if parts[0] == "query" and len(parts) >= 2:
                    # legacy alias (index.js:323-324): bare name,
                    # resolved across db namespaces
                    return self._named_query(parts[1], parts[2:], q)
                if parts[0] == "dt" and len(parts) == 3:
                    return self._data_type(parts[1], parts[2])
                if parts[0] == "db" and len(parts) >= 4 and parts[2] == "rel":
                    if len(parts) == 4:
                        return self._relation_list(parts[1], parts[3], q)
                    if len(parts) == 5:
                        return self._get_record(parts[1], parts[3], parts[4])
                    if len(parts) == 6:
                        return self._sub_record_list(
                            parts[1], parts[3], parts[4], parts[5]
                        )
                if parts[0] == "ffi" and len(parts) >= 2:
                    return self._ffi_proxy(parts[1], parts[2:], q)
                if (
                    parts[0] in self.plugin_services
                    and len(parts) == 3
                    and parts[1] == "query"
                ):
                    return self._plugin_query(parts[0], parts[2], q, req_session)
                if parts[0] == "run" and len(parts) == 2:
                    return self._run_registered(parts[1], q)
            elif method == "POST":
                if parts[0] == "auth" and len(parts) == 1:
                    return self._authenticate(body, req_session)
                if parts[0] == "db" and len(parts) in (4, 5) and parts[2] == "rel":
                    # addRecord / updateRecord (index.js:425-429,587-589)
                    return _err("NIY")
            elif method == "DELETE":
                if parts[0] == "db" and len(parts) == 5 and parts[2] == "rel":
                    # deleteRecord (index.js:591-593)
                    return _err("NIY")
        except AmbiguousTemplateError as exc:
            return _err(exc)
        except KeyError as exc:
            return _err(f"not found: {exc}")
        except (MissingParameterError, ValueError) as exc:
            return _err(exc)
        return 404, {"ok": False, "error": f"no route for {method} {url.path}"}

    def _describe_root(self) -> dict:
        by_db: dict[str, list[str]] = {}
        for name in self.templates.names():
            db, _, bare = name.partition(".")
            by_db.setdefault(db, []).append(bare)
        return {
            "routes": [
                "/q/<db>/<qname>[/p1[/p2...]]",
                "/query/<qname>[/p1[/p2...]]",
                "/dt/<db>/<qname>",
                "/db/<db>/rel/<relation>?page=&perpage=&sortby=",
                "/db/<db>/rel/<relation>/<id>",
                "/db/<db>/rel/<relation>/<id>/<subrelation>",
                "/ffi/<service>/<path...>",
                "/auth (POST)",
                "/run/<qname>?limit=",
            ],
            "databases": by_db,
            "services": sorted(self.foreigners),
            "registered_queries": len(self.engine.names()),
        }

    def _named_query(
        self, name: str, params: list[str], q: dict
    ) -> tuple[int, object]:
        tpl = self.templates.get(name)  # KeyError → not-found envelope
        named = {
            k: v
            for k, v in q.items()
            if k in tpl.named_params or k in tpl.identifier_params
        }
        limit = int(q["limit"]) if "limit" in q else None
        try:
            df = self.templates.run(self.spark, tpl.name, *params, **named)
            return _ok({"results": _rows_json(df, limit)})
        except Exception as exc:
            # a param that cannot cast to the column type (ANSI mode
            # rejects '1 OR 1=1' meeting a BIGINT) is the reference's
            # invalid-parameter case (examiner.js:70-80) — proof the
            # value never became SQL. Only INPUT-shaped Spark errors
            # map to the error envelope; an AnalysisException for a
            # vanished fixture path stays a 500 (operational fault)
            msg = str(exc)
            if type(exc).__module__.startswith("pyspark") and any(
                k in msg for k in _INPUT_SHAPED
            ):
                return _err(f"invalid parameter: {exc.__class__.__name__}")
            raise

    def _data_type(self, db: str, qname: str) -> tuple[int, object]:
        tpl = self.templates.get(f"{db}.{qname}")
        if tpl.n_positional == 0 and not tpl.named_params and not tpl.identifier_params:
            schema = self.templates.run(self.spark, tpl.name).schema
            fields = [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in schema.fields
            ]
            return _ok({"query": tpl.name, "fields": fields, "inferred": False})
        return _ok(
            {
                "query": tpl.name,
                "fields": [
                    {"name": n, "type": None} for n in parse_select_fields(tpl.sql)
                ],
                "inferred": True,
            }
        )

    def _check_db(self, db: str) -> None:
        known = {n.partition(".")[0] for n in self.templates.names() if "." in n}
        if db not in known:
            raise KeyError(f"unknown database {db!r}")

    def _relation_list(
        self, db: str, relation: str, q: dict
    ) -> tuple[int, object]:
        self._check_db(db)
        df = self.engine.list_records(
            relation,
            page=int(q.get("page", 1)),
            perpage=int(q.get("perpage", 20)),
            sortby=q.get("sortby"),
        )
        return _ok({"results": _rows_json(df)})

    def _get_record(self, db: str, relation: str, rec_id: str) -> tuple[int, object]:
        """`getRecord` (`index.js:496-533`): one row by pk, as
        `{ok:true, row}` — row is null when nothing matches (fetchRow
        semantics)."""
        self._check_db(db)
        ok, res = validate_query_vars({"id": rec_id})
        if not ok:
            return _err(res)
        try:
            rows = _rows_json(self.engine.get_record(relation, rec_id), 1)
        except Exception as exc:
            if any(k in str(exc) for k in _INPUT_SHAPED):
                return _err(f"invalid id: {rec_id!r}")
            raise
        return _ok({"row": rows[0] if rows else None})

    def _sub_record_list(
        self, db: str, relation: str, rec_id: str, subrel: str
    ) -> tuple[int, object]:
        """`getSubRecordList` (`index.js:536-585`): children of a
        record via the FK convention (`select * from subrel where
        {relation}_id = ?` in the reference; the engine's declared
        FK_CONVENTIONS here, since this schema prefixes columns)."""
        self._check_db(db)
        ok, res = validate_query_vars({"id": rec_id})
        if not ok:
            return _err(res)
        try:
            rows = _rows_json(self.engine.sub_records(relation, rec_id, subrel))
        except Exception as exc:
            if any(k in str(exc) for k in _INPUT_SHAPED):
                return _err(f"invalid id: {rec_id!r}")
            raise
        return _ok({"results": rows})

    def _authenticate(self, body: dict, req_session: Session) -> tuple[int, object]:
        """`authenticate` (`index.js:595-639`): mint a token if none
        sent; with a service, delegate to the registered auth plugin,
        save the session, stash the auth info under the service key."""
        token = body.get("token") or str(uuid.uuid4())
        service = body.get("service")
        auth = body.get("auth")
        if service:
            plugin = AUTH_PLUGINS.get(service)
            if plugin is None:
                return _err(f'Service "{service}" not found.')
            if not auth:
                return _err(f'Service auth info for "{service}" not sent.')
            rval = plugin(auth)
            if rval.get("ok"):
                # index.js:617-624: reuse the saved session for this
                # token, else create-and-save (resolve hands back a
                # fresh Session(token) when none is saved)
                s = self.sessions.resolve(token)
                self.sessions.save(s)
                s.put(service, rval.get("info"))
                return 200, {"ok": True, "token": token}
            return 200, rval  # pass the plugin's error along
        return 200, {"ok": True, "token": token}

    def _ffi_proxy(
        self, service: str, segs: list[str], q: dict
    ) -> tuple[int, object]:
        """`makeRESTroute` (`index.js:327-366`): match the local path
        pattern, validate $vars (examiner rules), expand the remote
        handlebars template, relay the upstream response."""
        foreigner = self.foreigners.get(service)
        if foreigner is None:
            raise KeyError(f"unknown service {service!r}")
        for r in foreigner.get("routes", []):
            pat = [p for p in r["localpath"].split("/") if p]
            if len(pat) != len(segs):
                continue
            qvals: dict[str, str] = {}
            lits_match = True
            for p_seg, seg in zip(pat, segs):
                m = _QVAR_RE.fullmatch(p_seg)
                if m:
                    qvals[m.group(1)] = seg
                elif p_seg != seg:
                    lits_match = False
                    break
            if not lits_match:
                continue
            ok, res = validate_query_vars(qvals)
            if not ok:
                return _err(res)
            remote = _HB_RE.sub(lambda m: res[m.group(1)], r["path"])
            try:
                with urllib.request.urlopen(
                    foreigner["baseURI"] + remote, timeout=10
                ) as resp:
                    return resp.status, RawRelay(resp.read(), resp.headers)
            except urllib.error.HTTPError as e:
                # non-2xx upstream: relay status + body like the
                # reference's pipe (index.js:356-360), don't 500
                return e.code, RawRelay(e.read(), e.headers)
        raise KeyError(f"no {service} route matches /{'/'.join(segs)}")

    def _plugin_query(
        self, service: str, qname: str, q: dict, req_session: Session
    ) -> tuple[int, object]:
        """Session-gated plugin query — `sfQueryRoute`
        (`plugins/salesforce.js:74-119`), mounted at
        `/<plugin>/query/<qname>` (`index.js:139-156`): the
        gateKeeper-attached session must hold the service's auth
        info (stored by /auth) or the request is refused with the
        reference's error; then the service's named template runs
        with examiner-validated query vars. (The reference hands the
        SOQL to the live connection in the session; here the engine
        executes the template mapped over the driver schema —
        gateway.py documents the mapping.)"""
        if not req_session.get(service):
            # plugins/salesforce.js:84-86 (its literal hardcodes the
            # service name; parameterized here)
            return _err(f"Query: {service} auth info not found.")
        tpl = self.templates.get(f"{service}.{qname}")  # KeyError → envelope
        qvars = {
            k: q.get(k) for k in (*tpl.named_params, *tpl.identifier_params)
        }
        if qvars:
            ok, res = validate_query_vars(qvars)
            if not ok:
                return _err(res)
            qvars = res
        df = self.templates.run(self.spark, tpl.name, **qvars)
        limit = int(q["limit"]) if "limit" in q else None
        return _ok({"results": _rows_json(df, limit)})

    # Registered queries verified free of session-global side
    # effects. Persisted scratch artifacts are safe under concurrency
    # (scratch.materialize locks per path); what still forces the
    # rest through _run_lock is:
    # - the session-global `spark.sql.shuffle.partitions` writes in
    #   streaming/windows.py's _run_stream and _run_stream_to_dir and
    #   in session.shuffle_width (a query planned inside the window
    #   inherits the narrowed width);
    # - session.rocksdb_state_store's session-global provider toggle;
    # - fixed-name temp views (q_agg_grouping_sets and
    #   q_subquery_scalar both register "lineitem");
    # - streaming/windows.py _stage_parts' per-call rmtree-and-restage
    #   of a stream input dir shared by name.
    # Members serve CONCURRENTLY under the per-thread pin list
    # (functions/distributed.py): each request thread owns a disjoint
    # build-pin → materialize → release lifecycle, so parallel binds
    # of the template catalog never contend on a lock. Conservative
    # default: anything NOT listed here keeps the serialized path.
    _CONCURRENT_SAFE = frozenset(
        {
            "q_sort_paginate",
            "q_agg_count_distinct",
            "q_topk",
            "q_join_multi",
            "q_agg_groupby",
            "q_text_fingerprint",
            "q_filter_eq",
            "q_inner_join",
            "q_point_lookup",
            "q_child_list",
            "q_project_cols",
        }
    )

    def _coerce_binds(self, spec, q: dict) -> dict:
        """Query-string template binds for /run: every non-transport
        parameter must name a declared builder parameter (the
        registry's defaults are the declaration — the same
        no-string-splicing contract as the /q template catalog), and
        the value is coerced to the default's type so builders see
        real ints/floats, never raw strings."""
        binds: dict = {}
        for k, v in q.items():
            if k in ("token", "limit"):
                continue
            if k not in spec.defaults:
                raise ValueError(f"unknown query parameter: {k}")
            d = spec.defaults[k]
            if isinstance(d, bool):
                binds[k] = v.lower() in ("1", "true", "yes")
            elif isinstance(d, int):
                binds[k] = int(v)
            elif isinstance(d, float):
                binds[k] = float(v)
            else:
                binds[k] = v
        return binds

    def _run_registered(self, qname: str, q: dict) -> tuple[int, object]:
        if qname not in self.engine.names():
            raise KeyError(qname)
        from data_wrangler_spark.registry import REGISTRY

        spec = REGISTRY[qname]
        binds = self._coerce_binds(spec, q)
        # Pins are per-thread and scratch artifacts are published
        # under a per-path lock; what still REQUIRES serialization is
        # the session-global conf writes, fixed-name temp views and
        # per-call stream-input restaging listed at _CONCURRENT_SAFE.
        # The explicit _CONCURRENT_SAFE set serves in parallel; all
        # other names keep the one-at-a-time conservative default.
        # /q, /dt and /db stay concurrent — they touch neither pins
        # nor scratch.
        ctx = (
            contextlib.nullcontext()
            if qname in self._CONCURRENT_SAFE
            else self._run_lock
        )
        with ctx:
            try:
                df = self.engine.run(qname, **binds)
            except TypeError as exc:
                if "required positional argument" in str(exc):
                    # invoked without a required parameter — client
                    # input problem; other TypeErrors stay 500s
                    return _err("missing required query parameter")
                raise
            try:
                return _ok(
                    {"results": _rows_json(df, int(q.get("limit", DEFAULT_RUN_LIMIT)))}
                )
            finally:
                self.engine.release_cache()

    # ── lifecycle ─────────────────────────────────────────────────
    @property
    def base_url(self) -> str:
        host, port = self.httpd.server_address[:2]
        scheme = "https" if self._tls else "http"
        return f"{scheme}://{host}:{port}"

    def start(self) -> "GatewayServer":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        # shutdown FIRST (stop admitting), then server_close() — which,
        # because daemon_threads=False, JOINS any in-flight handler
        # thread — and only THEN release pinned caches: no handler can
        # still be mid-request against the engine, and no /run admitted
        # late can re-pin caches that are never released (ADVICE r4-r6)
        self._shutting_down = True  # handlers stop honoring keep-alive
        self.httpd.shutdown()
        self.httpd.server_close()
        with self._run_lock:
            self.engine.release_cache()
        if self._thread:
            self._thread.join(timeout=5)
