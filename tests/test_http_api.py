"""HTTP transport parity: the 13 API-Gateway routes of
templates/api.yaml:1042-1257 served over api.Engine by http_api, driven
end-to-end through a real socket with urllib (no test client shortcuts).

Contract checks mirror the reference handlers: status codes (201/202/
204/400/404/405/422), error bodies with a single ``Message`` key,
``page_size``/``start_at`` pagination (explicit ``NextStart: null`` on
final list pages, omitted on exhausted job-event pages), CORS preflight,
the running-job guards on destructive routes, and the asynchronous
202-then-poll job lifecycle of ``DELETE /v1/queue``.
"""

import json
import os
import shutil
import time
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest

from amazon_s3_find_and_forget_spark.api import Engine
from amazon_s3_find_and_forget_spark.http_api import (
    BearerTokenAuthorizer,
    Forbidden,
    create_app,
    serve,
)


@pytest.fixture()
def lake(tmp_path, sf_dir):
    lake = tmp_path / "lineitem"
    lake.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"), lake / "part-0.parquet"
    )
    return str(lake)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "state"))


@pytest.fixture()
def server(engine):
    srv = serve(engine, port=0, background=True)
    yield srv
    srv.shutdown()


@pytest.fixture()
def base(server):
    host, port = server.server_address
    return f"http://{host}:{port}"


def call(base, method, path, body=None, headers=None):
    """Returns (status, parsed_body_or_None)."""
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(base + path, data=data, method=method)
    if data is not None:
        req.add_header("Content-Type", "application/json")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, json.loads(raw) if raw else None


# --- queue routes -------------------------------------------------------


def test_enqueue_single_and_batch(base):
    st, item = call(base, "PATCH", "/v1/queue", {"MatchId": 12345})
    assert st == 201
    assert item["MatchId"] == 12345
    assert item["Type"] == "Simple"
    assert item["DeletionQueueItemId"]

    st, body = call(
        base,
        "PATCH",
        "/v1/queue/matches",
        {"Matches": [{"MatchId": "a"}, {"MatchId": "b"}]},
    )
    assert st == 201
    assert [m["MatchId"] for m in body["Matches"]] == ["a", "b"]


def test_enqueue_validation(base):
    # missing MatchId -> 422 (request_validator parity)
    st, body = call(base, "PATCH", "/v1/queue", {"Nope": 1})
    assert st == 422
    assert "Message" in body
    # composite rules -> 400 (queue/handlers.py:144-161 ValueErrors)
    st, body = call(
        base,
        "PATCH",
        "/v1/queue",
        {"MatchId": [], "Type": "Composite", "DataMappers": ["li"]},
    )
    assert st == 400
    assert "Message" in body
    # malformed JSON -> 422
    req = urllib.request.Request(
        base + "/v1/queue", data=b"{nope", method="PATCH"
    )
    try:
        urllib.request.urlopen(req)
        raised = None
    except urllib.error.HTTPError as e:
        raised = e.code
    assert raised == 422


def test_queue_pagination(base):
    call(
        base,
        "PATCH",
        "/v1/queue/matches",
        {"Matches": [{"MatchId": i} for i in range(5)]},
    )
    st, page1 = call(base, "GET", "/v1/queue?page_size=2")
    assert st == 200
    assert [m["MatchId"] for m in page1["MatchIds"]] == [0, 1]
    assert page1["NextStart"] == page1["MatchIds"][-1]["DeletionQueueItemId"]

    st, page2 = call(
        base, "GET", f"/v1/queue?page_size=2&start_at={page1['NextStart']}"
    )
    assert [m["MatchId"] for m in page2["MatchIds"]] == [2, 3]

    st, page3 = call(
        base, "GET", f"/v1/queue?page_size=2&start_at={page2['NextStart']}"
    )
    assert [m["MatchId"] for m in page3["MatchIds"]] == [4]
    # queue/handlers.py:95: final short page carries an explicit null
    assert page3["NextStart"] is None


def test_queue_pagination_anchor_deleted(base):
    """Deleting the page anchor must not lose the rest of the scan —
    the next page resumes at the anchor's former position."""
    call(
        base,
        "PATCH",
        "/v1/queue/matches",
        {"Matches": [{"MatchId": i} for i in range(5)]},
    )
    st, page1 = call(base, "GET", "/v1/queue?page_size=2")
    anchor = page1["NextStart"]
    st, _ = call(
        base,
        "DELETE",
        "/v1/queue/matches",
        {"Matches": [{"DeletionQueueItemId": anchor}]},
    )
    assert st == 204
    st, page2 = call(
        base, "GET", f"/v1/queue?page_size=2&start_at={anchor}"
    )
    assert st == 200
    assert [m["MatchId"] for m in page2["MatchIds"]] == [2, 3]
    # a token the store never issued still scans past the end
    st, bogus = call(base, "GET", "/v1/queue?page_size=2&start_at=nope")
    assert st == 200 and bogus["MatchIds"] == []


def test_cors_preflight(base):
    """templates/api.yaml:985-998 — the gateway answers OPTIONS with the
    CORS allow lists; the console preflights every non-simple request."""
    req = urllib.request.Request(base + "/v1/queue", method="OPTIONS")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 204
        allow = resp.headers["Access-Control-Allow-Methods"]
        assert set(allow.split(",")) == {
            "GET",
            "PATCH",
            "DELETE",
            "OPTIONS",
        }
        assert "Authorization" in resp.headers["Access-Control-Allow-Headers"]
        assert resp.headers["Access-Control-Allow-Origin"] == "*"
    # parameterized path preflights too
    req = urllib.request.Request(
        base + "/v1/data_mappers/some-id", method="OPTIONS"
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 204
        assert set(
            resp.headers["Access-Control-Allow-Methods"].split(",")
        ) == {"GET", "PUT", "DELETE", "OPTIONS"}
    # unknown path: 404, not a preflight answer
    req = urllib.request.Request(base + "/v1/nope", method="OPTIONS")
    try:
        urllib.request.urlopen(req)
        code = 200
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_cancel_matches(base):
    _, item = call(base, "PATCH", "/v1/queue", {"MatchId": 7})
    st, _ = call(
        base,
        "DELETE",
        "/v1/queue/matches",
        {"Matches": [{"DeletionQueueItemId": item["DeletionQueueItemId"]}]},
    )
    assert st == 204
    _, listed = call(base, "GET", "/v1/queue")
    assert listed["MatchIds"] == []


# --- data mapper routes ---------------------------------------------------


def test_data_mapper_crud(base, lake):
    cfg = {"Location": lake, "Columns": ["l_orderkey"]}
    st, body = call(base, "PUT", "/v1/data_mappers/li", cfg)
    assert st == 201
    assert body["DataMapperId"] == "li"

    st, body = call(base, "GET", "/v1/data_mappers/li")
    assert st == 200
    assert body["Columns"] == ["l_orderkey"]

    st, body = call(base, "GET", "/v1/data_mappers")
    assert st == 200
    assert [m["DataMapperId"] for m in body["DataMappers"]] == ["li"]
    assert body["NextStart"] is None  # data_mappers/handlers.py:64

    st, _ = call(base, "DELETE", "/v1/data_mappers/li")
    assert st == 204
    st, _ = call(base, "GET", "/v1/data_mappers/li")
    assert st == 404

    # invalid mapper (unknown column) -> 400 with Message
    st, body = call(
        base, "PUT", "/v1/data_mappers/bad",
        {"Location": lake, "Columns": ["nope"]},
    )
    assert st == 400
    assert "Message" in body


def test_data_mapper_put_pins_parquet_schema(base, spark, lake):
    """A Parquet mapper put without a Schema stores the one it was
    validated against, and both the PUT and the GET show it."""
    st, put = call(
        base, "PUT", "/v1/data_mappers/li",
        {"Location": lake, "Columns": ["l_orderkey"]},
    )
    assert st == 201
    st, got = call(base, "GET", "/v1/data_mappers/li")
    assert st == 200
    assert got["Schema"] == put["Schema"]
    assert got["Schema"] == spark.read.parquet(lake).schema.toDDL()


def test_data_mapper_pagination(base, tmp_path, sf_dir):
    for name in ("a", "b", "c"):
        d = tmp_path / f"lake-{name}"
        d.mkdir()
        shutil.copy(
            os.path.join(sf_dir, "lineitem.parquet"), d / "p.parquet"
        )
        st, _ = call(
            base,
            "PUT",
            f"/v1/data_mappers/{name}",
            {"Location": str(d), "Columns": ["l_orderkey"]},
        )
        assert st == 201
    st, p1 = call(base, "GET", "/v1/data_mappers?page_size=2")
    assert [m["DataMapperId"] for m in p1["DataMappers"]] == ["a", "b"]
    assert p1["NextStart"] == "b"
    st, p2 = call(base, "GET", "/v1/data_mappers?page_size=2&start_at=b")
    assert [m["DataMapperId"] for m in p2["DataMappers"]] == ["c"]
    assert p2["NextStart"] is None


# --- job lifecycle over HTTP ----------------------------------------------


def _submit_job(base, lake, match=3):
    call(
        base,
        "PUT",
        "/v1/data_mappers/li",
        {"Location": lake, "Columns": ["l_orderkey"]},
    )
    call(base, "PATCH", "/v1/queue", {"MatchId": match})
    return call(base, "DELETE", "/v1/queue")


def test_job_lifecycle_async(base, engine, lake):
    st, job = _submit_job(base, lake)
    assert st == 202
    assert job["JobStatus"] == "QUEUED"  # the 202 doc is the QUEUED snapshot
    job_id = job["Id"]

    # double-submit while running -> 400 (process_handler guard)
    st, body = call(base, "DELETE", "/v1/queue")
    assert st == 400
    assert "job in progress" in body["Message"]

    # destructive routes refuse during the run (cancel_handler /
    # delete_data_mapper_handler guards)
    st, body = call(
        base, "DELETE", "/v1/queue/matches", {"Matches": []}
    )
    assert st == 400
    st, body = call(base, "DELETE", "/v1/data_mappers/li")
    assert st == 400

    engine.wait_for_job(timeout=120)
    st, done = call(base, "GET", f"/v1/jobs/{job_id}")
    assert st == 200
    assert done["JobStatus"] == "COMPLETED"
    assert "Events" not in done  # summary only, events via /events

    # completed job consumed the queue (ST3)
    _, q = call(base, "GET", "/v1/queue")
    assert q["MatchIds"] == []

    # events endpoint: paginate to exhaustion
    st, ev = call(base, "GET", f"/v1/jobs/{job_id}/events?page_size=2")
    assert st == 200
    assert len(ev["JobEvents"]) == 2
    assert "NextStart" in ev
    seen = [e["EventName"] for e in ev["JobEvents"]]
    # the Sk watermark contains '#': URL-encode it or urllib parses a
    # fragment and the watermark silently never advances (bounded loop
    # so a pagination regression fails instead of hanging the suite)
    for _ in range(200):
        if "NextStart" not in ev:
            break
        st, ev = call(
            base,
            "GET",
            f"/v1/jobs/{job_id}/events?page_size=2"
            f"&start_at={quote(ev['NextStart'], safe='')}",
        )
        seen += [e["EventName"] for e in ev["JobEvents"]]
    else:
        pytest.fail("event pagination did not terminate")
    assert seen[0] == "JobStarted"
    # terminal event: CleanupSucceeded folds to COMPLETED (jobs.py:33)
    assert "CleanupSucceeded" in seen

    # event filter: begins_with on EventName (jobs/handlers.py:141-146)
    st, ev = call(
        base,
        "GET",
        f"/v1/jobs/{job_id}/events?filter=EventName=Object",
    )
    assert st == 200
    assert ev["JobEvents"]
    assert all(
        e["EventName"].startswith("Object") for e in ev["JobEvents"]
    )

    # future watermark -> 400 (ST4)
    far = (int(time.time()) + 3600) * 1000
    st, body = call(
        base, "GET", f"/v1/jobs/{job_id}/events?start_at={far}%23zz"
    )
    assert st == 400


def test_job_listing_pagination(base, engine, lake):
    st, job = _submit_job(base, lake)
    assert st == 202
    engine.wait_for_job(timeout=120)

    st, body = call(base, "GET", "/v1/jobs")
    assert st == 200
    assert [j["Id"] for j in body["Jobs"]] == [job["Id"]]
    assert body["NextStart"] is None  # jobs/handlers.py:104 short page

    # page_size=1 with one job: full page -> NextStart = min CreatedAt
    st, body = call(base, "GET", "/v1/jobs?page_size=1")
    assert body["NextStart"] == body["Jobs"][0]["CreatedAt"]
    # paging past it yields nothing (CreatedAt < start_at is exclusive)
    st, body = call(
        base, "GET", f"/v1/jobs?page_size=1&start_at={body['NextStart']}"
    )
    assert body["Jobs"] == []

    st, _ = call(base, "GET", "/v1/jobs/nonexistent")
    assert _ is None
    st2, ev = call(base, "GET", "/v1/jobs/nonexistent/events")
    assert st == 404 and st2 == 404


def test_job_lifecycle_sync_mode(engine, lake):
    # detach_jobs=False: the 202 doc is already terminal — scripting mode
    srv = serve(engine, port=0, background=True, detach_jobs=False)
    try:
        host, port = srv.server_address
        base = f"http://{host}:{port}"
        st, job = _submit_job(base, lake, match=7)
        assert st == 202
        assert job["JobStatus"] == "COMPLETED"
    finally:
        srv.shutdown()


# --- settings + routing edges ----------------------------------------------


def test_settings_routes(base):
    st, body = call(base, "GET", "/v1/settings")
    assert st == 200
    assert body["Settings"]["QueryMaxRetries"] == 2

    st, body = call(base, "PUT", "/v1/settings", {"QueryMaxRetries": 5})
    assert st == 200
    assert body["Settings"]["QueryMaxRetries"] == 5

    st, body = call(base, "PUT", "/v1/settings", {"Bogus": 1})
    assert st == 400


def test_routing_edges(base):
    st, body = call(base, "GET", "/v1/nope")
    assert st == 404
    st, body = call(base, "POST", "/v1/queue")  # known path, wrong verb
    assert st == 405
    st, body = call(base, "GET", "/v1/queue?page_size=zero")
    assert st == 422
    st, body = call(base, "GET", "/v1/queue?page_size=-1")
    assert st == 422


def test_wsgi_app_direct():
    """create_app returns a plain WSGI callable (hostable anywhere)."""
    # no engine interaction happens on an unknown route
    app = create_app(engine=None)
    captured = {}

    def start_response(status, headers):
        captured["status"] = status

    body = app(
        {"REQUEST_METHOD": "GET", "PATH_INFO": "/nope", "QUERY_STRING": ""},
        start_response,
    )
    assert captured["status"].startswith("404")
    assert json.loads(b"".join(body))["Message"] == "Not found"


# --- authorization (templates/api.yaml: Authorizer on every route) --------


@pytest.fixture()
def auth_base(engine):
    auth = BearerTokenAuthorizer(
        {"sekrit": {"Username": "alice", "Sub": "sub-1"}}
    )
    srv = serve(engine, port=0, background=True, authorizer=auth)
    try:
        host, port = srv.server_address
        yield f"http://{host}:{port}"
    finally:
        srv.shutdown()


AUTH = {"Authorization": "Bearer sekrit"}


def test_auth_missing_token_401_on_every_route(auth_base):
    """Every reference route carries security: [Authorizer]
    (templates/api.yaml:122-511) — no token means 401 with the gateway's
    Message shape, before any handler (or body validation) runs."""
    routes = [
        ("PATCH", "/v1/queue", {"MatchId": 1}),
        ("PATCH", "/v1/queue/matches", {"Matches": []}),
        ("GET", "/v1/queue", None),
        ("DELETE", "/v1/queue/matches", {"Matches": []}),
        ("DELETE", "/v1/queue", None),
        ("PUT", "/v1/data_mappers/x", {"Location": "/", "Columns": []}),
        ("GET", "/v1/data_mappers/x", None),
        ("GET", "/v1/data_mappers", None),
        ("DELETE", "/v1/data_mappers/x", None),
        ("GET", "/v1/jobs", None),
        ("GET", "/v1/jobs/some-id", None),
        ("GET", "/v1/jobs/some-id/events", None),
        ("GET", "/v1/settings", None),
        ("PUT", "/v1/settings", {}),
    ]
    for method, path, body in routes:
        st, resp = call(auth_base, method, path, body)
        assert st == 401, (method, path, st)
        assert resp == {"Message": "Unauthorized"}, (method, path)
    # a malformed body still 401s: the authorizer runs ahead of
    # request validation
    req = urllib.request.Request(
        auth_base + "/v1/queue", data=b"{nope", method="PATCH"
    )
    try:
        urllib.request.urlopen(req)
        code = 200
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 401


def test_auth_wrong_token_and_scheme_401(auth_base):
    st, resp = call(
        auth_base, "GET", "/v1/queue",
        headers={"Authorization": "Bearer wrong"},
    )
    assert st == 401 and resp == {"Message": "Unauthorized"}
    st, resp = call(
        auth_base, "GET", "/v1/queue",
        headers={"Authorization": "Basic sekrit"},
    )
    assert st == 401


def test_auth_valid_token_passes_and_preflight_stays_open(auth_base):
    st, body = call(
        auth_base, "PATCH", "/v1/queue", {"MatchId": 5}, headers=AUTH
    )
    assert st == 201 and body["MatchId"] == 5
    st, body = call(auth_base, "GET", "/v1/queue", headers=AUTH)
    assert st == 200 and len(body["MatchIds"]) == 1
    # handler-level errors keep their contract behind auth
    st, body = call(auth_base, "PATCH", "/v1/queue", {"Nope": 1}, headers=AUTH)
    assert st == 422
    # CORS preflight needs no token (the gateway answers OPTIONS itself)
    req = urllib.request.Request(auth_base + "/v1/queue", method="OPTIONS")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 204


def test_auth_job_records_principal(auth_base, engine, lake):
    """CreatedBy parity: the job document records the authorizer's
    principal (queue/handlers.py:133 get_user_info)."""
    call(
        auth_base,
        "PUT",
        "/v1/data_mappers/li",
        {"Location": lake, "Columns": ["l_orderkey"]},
        headers=AUTH,
    )
    call(auth_base, "PATCH", "/v1/queue", {"MatchId": 3}, headers=AUTH)
    st, job = call(auth_base, "DELETE", "/v1/queue", headers=AUTH)
    assert st == 202
    assert job["CreatedBy"] == {"Username": "alice", "Sub": "sub-1"}
    engine.wait_for_job(timeout=120)


def test_auth_forbidden_403(engine):
    def deny_writes(environ):
        if environ["REQUEST_METHOD"] in ("GET", "HEAD"):
            return {"Username": "reader", "Sub": "r-1"}
        raise Forbidden("read-only principal")

    srv = serve(engine, port=0, background=True, authorizer=deny_writes)
    try:
        host, port = srv.server_address
        base = f"http://{host}:{port}"
        st, body = call(base, "GET", "/v1/queue")
        assert st == 200
        st, body = call(base, "PATCH", "/v1/queue", {"MatchId": 1})
        assert st == 403 and body == {"Message": "read-only principal"}
    finally:
        srv.shutdown()


# --- full mixed-lake job, HTTP-only (round-10 e2e) ------------------------


def test_http_e2e_mixed_lake_job(spark, tmp_path, sf_dir):
    """The whole reference workflow over the wire: register a parquet
    mapper and a cross-account JSON mapper (RoleArn through the fake
    store factory), enqueue Simple + Composite matches, DELETE
    /v1/queue, poll the job to COMPLETED, then assert survivors
    byte-exactly in both lakes."""
    import pyarrow.parquet as pq

    # parquet lake
    pq_lake = tmp_path / "pq-lake"
    pq_lake.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"),
        pq_lake / "part-0.parquet",
    )
    li = pq.read_table(str(pq_lake / "part-0.parquet"))
    okeys = li.column("l_orderkey").to_pylist()
    lnums = li.column("l_linenumber").to_pylist()
    simple_val = max(okeys)  # never collides with l_linenumber (1..7)
    comp_key = next(
        k for k, ln in zip(okeys, lnums) if ln == 1 and k != simple_val
    )

    # JSON lake (raw-line-preserving format), cross-account
    js_lake = tmp_path / "js-lake"
    js_lake.mkdir()
    lines = [
        json.dumps({"customer_id": i, "name": f"n{i}"}) for i in range(1, 6)
    ]
    (js_lake / "a.json").write_text("\n".join(lines[:3]) + "\n")
    (js_lake / "b.json").write_text("\n".join(lines[3:]) + "\n")

    expected_arn = "arn:aws:iam::42:role/forget"
    seen = tmp_path / "arn-seen"

    def factory(arn, _expected=expected_arn, _seen=str(seen)):
        from amazon_s3_find_and_forget_spark.sources.object_store import (
            LocalObjectStore,
        )

        if arn not in (None, _expected):
            raise ValueError(f"wrong arn reached the store factory: {arn}")
        if arn == _expected:
            open(_seen, "w").write(arn)
        return LocalObjectStore()

    engine = Engine(
        spark, str(tmp_path / "state"), store_factory=factory
    )
    srv = serve(engine, port=0, background=True)
    try:
        host, port = srv.server_address
        base = f"http://{host}:{port}"

        st, _ = call(
            base,
            "PUT",
            "/v1/data_mappers/li",
            {
                "Location": str(pq_lake),
                "Columns": ["l_orderkey", "l_linenumber"],
            },
        )
        assert st == 201
        st, _ = call(
            base,
            "PUT",
            "/v1/data_mappers/jl",
            {
                "Location": str(js_lake),
                "Columns": ["customer_id"],
                "Format": "json",
                "RoleArn": expected_arn,
            },
        )
        assert st == 201

        # Simple match: applies to BOTH mappers' identifier columns
        st, _ = call(base, "PATCH", "/v1/queue", {"MatchId": simple_val})
        assert st == 201
        st, _ = call(base, "PATCH", "/v1/queue", {"MatchId": 2})
        assert st == 201  # deletes customer 2 in the JSON lake
        st, _ = call(
            base,
            "PATCH",
            "/v1/queue",
            {
                "MatchId": [
                    {"Column": "l_orderkey", "Value": comp_key},
                    {"Column": "l_linenumber", "Value": 1},
                ],
                "Type": "Composite",
                "DataMappers": ["li"],
            },
        )
        assert st == 201

        st, job = call(base, "DELETE", "/v1/queue")
        assert st == 202 and job["JobStatus"] == "QUEUED"
        job_id = job["Id"]
        deadline = time.time() + 180
        while time.time() < deadline:
            st, doc = call(base, "GET", f"/v1/jobs/{job_id}")
            if doc["JobStatus"] not in (
                "QUEUED",
                "RUNNING",
                "FORGET_COMPLETED_CLEANUP_IN_PROGRESS",
            ):
                break
            time.sleep(1)
        assert doc["JobStatus"] == "COMPLETED", doc
        assert doc["TotalObjectUpdatedCount"] >= 2

        # queue consumed (ST3), explicit null NextStart on the empty page
        st, q = call(base, "GET", "/v1/queue")
        assert q == {"MatchIds": [], "NextStart": None}

        # parquet survivors byte-exact: BOTH simple matches apply to
        # every identifier column of the mapper, plus the composite
        got = pq.read_table(str(pq_lake / "part-0.parquet"))
        keep = [
            i
            for i, (k, ln) in enumerate(zip(okeys, lnums))
            if k not in (simple_val, 2)
            and ln not in (simple_val, 2)
            and not (k == comp_key and ln == 1)
        ]
        assert got.equals(li.take(keep))

        # JSON survivors: untouched raw lines, in order (S4/S6 contract)
        remaining = (js_lake / "a.json").read_text() + (
            js_lake / "b.json"
        ).read_text()
        assert remaining.splitlines() == [
            ln for i, ln in zip(range(1, 6), lines) if i != 2
        ]
        # the cross-account mapper really resolved through RoleArn
        assert seen.read_text() == expected_arn
    finally:
        srv.shutdown()


def test_auth_gates_route_enumeration(engine):
    """With an authorizer configured, unknown paths and wrong verbs must
    answer 401 — not 404/405 — so an unauthenticated client cannot map
    the route surface (the gateway authorizes unknown-resource requests
    too). Authenticated callers still get the real 404/405."""
    auth = BearerTokenAuthorizer({"tok": {"Username": "u", "Sub": "s"}})
    srv = serve(engine, port=0, background=True, authorizer=auth)
    try:
        host, port = srv.server_address
        base = f"http://{host}:{port}"
        st, body = call(base, "GET", "/v1/nope")
        assert st == 401 and body == {"Message": "Unauthorized"}
        st, body = call(base, "PUT", "/v1/queue")  # known path, bad verb
        assert st == 401 and body == {"Message": "Unauthorized"}
        hdr = {"Authorization": "Bearer tok"}
        st, _ = call(base, "GET", "/v1/nope", headers=hdr)
        assert st == 404
        st, _ = call(base, "PUT", "/v1/queue", headers=hdr)
        assert st == 405
    finally:
        srv.shutdown()


def test_authorizer_stores_and_compares_only_digests():
    """No raw credential bytes survive construction (the token table is
    held as sha256 digests) and lookups go through hmac.compare_digest
    on fixed-length digests — so neither the process image nor response
    timing exposes token bytes. Behavior is unchanged: valid token ->
    principal, anything else -> None."""
    auth = BearerTokenAuthorizer(
        {"sekrit-token-value": {"Username": "u", "Sub": "s"}}
    )
    assert "sekrit-token-value" not in repr(vars(auth))
    ok = auth({"HTTP_AUTHORIZATION": "Bearer sekrit-token-value"})
    assert ok == {"Username": "u", "Sub": "s"}
    assert auth({"HTTP_AUTHORIZATION": "Bearer wrong"}) is None
    assert auth({"HTTP_AUTHORIZATION": "Basic sekrit-token-value"}) is None
    assert auth({}) is None
