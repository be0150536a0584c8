"""HTTP transport for the control plane — the reference's API Gateway.

The reference exposes its control plane as API-Gateway-routed Lambda
handlers (templates/api.yaml:1042-1257; backend/lambdas/{queue,
data_mappers,jobs,settings}/handlers.py). This module is the same route
surface over :class:`api.Engine`, as a dependency-free WSGI app (stdlib
``wsgiref`` serves it; any WSGI server can host it):

    ========  ==============================  =========================
    method    path                            reference handler
    ========  ==============================  =========================
    PATCH     /v1/queue                       queue.enqueue_handler
    PATCH     /v1/queue/matches               queue.enqueue_batch_handler
    GET       /v1/queue                       queue.get_handler
    DELETE    /v1/queue/matches               queue.cancel_handler
    DELETE    /v1/queue                       queue.process_handler
    PUT       /v1/data_mappers/{id}           put_data_mapper_handler
    GET       /v1/data_mappers/{id}           get_data_mapper_handler
    GET       /v1/data_mappers                get_data_mappers_handler
    DELETE    /v1/data_mappers/{id}           delete_data_mapper_handler
    GET       /v1/jobs/{job_id}               get_job_handler
    GET       /v1/jobs                        list_jobs_handler
    GET       /v1/jobs/{job_id}/events        list_job_events_handler
    GET       /v1/settings                    settings.list_settings_handler
    PUT       /v1/settings                    (engine extension — the
                                              reference configures via
                                              CloudFormation parameters)
    ========  ==============================  =========================

Contract parity (decorators.py:54-124): errors return a JSON body with a
single ``Message`` key — 400 for semantic errors (``catch_errors``), 422
for malformed request shapes (``request_validator``), 404 for missing
documents/routes, 405 for a known path with the wrong method. Success
codes mirror the handlers: 201 created, 202 job accepted, 204 no content.
Pagination uses ``page_size``/``start_at`` query params and a
``NextStart`` field: the queue/jobs/data-mapper list routes serialize an
explicit ``NextStart: null`` on the final page (their handlers json.dumps
the None — queue/handlers.py:95, jobs/handlers.py:104,
data_mappers/handlers.py:64), while the job-events route strips None
values and omits the key (jobs/handlers.py:175-179). Preflight OPTIONS
requests on any known path are answered with the CORS allow lists, as
the reference's API Gateway Cors config does.

``DELETE /v1/queue`` keeps the reference's asynchronous semantics: the
response is the freshly persisted QUEUED job document and the Find/Forget
run proceeds on a detached engine thread (the Step-Functions analog).
Pass ``detach_jobs=False`` for a synchronous variant that only returns
once the job document is terminal (same 202 + doc shape — useful for
scripting without polling).
"""

from __future__ import annotations

import contextvars
import json
import re
import threading
from urllib.parse import parse_qsl
from wsgiref.simple_server import WSGIRequestHandler, make_server

from .api import AlreadyRunningError, Engine

_STATUS_TEXT = {
    200: "200 OK",
    201: "201 Created",
    202: "202 Accepted",
    204: "204 No Content",
    400: "400 Bad Request",
    401: "401 Unauthorized",
    403: "403 Forbidden",
    404: "404 Not Found",
    405: "405 Method Not Allowed",
    422: "422 Unprocessable Entity",
    500: "500 Internal Server Error",
}

# add_cors_headers parity (decorators.py:140-150): every response is
# browser-consumable, as the reference console calls the API cross-origin.
# The header list mirrors the API Gateway Cors config
# (templates/api.yaml:985,996-998).
_CORS_ALLOW_HEADERS = (
    "Content-Type,X-Amz-Date,Authorization,X-Api-Key,X-Amz-Security-Token"
)
_CORS = [
    ("Access-Control-Allow-Origin", "*"),
    ("Access-Control-Allow-Headers", _CORS_ALLOW_HEADERS),
]


class _Invalid(ValueError):
    """Request-shape error -> 422 (request_validator parity)."""


class Forbidden(Exception):
    """Raised by an authorizer to deny an authenticated principal -> 403
    (the API Gateway ACCESS_DENIED gateway response)."""


# the authenticated principal for the request being dispatched; a
# contextvar so concurrent WSGI worker threads never see each other's
# caller (new threads start from a fresh context -> default None)
_PRINCIPAL: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "s3f2_principal", default=None
)


class BearerTokenAuthorizer:
    """Reference authorizer: a static ``Authorization: Bearer <token>``
    table, the engine analog of the Cognito user-pool authorizer the
    reference attaches to every route (templates/api.yaml:965-976 —
    ``apiKey`` in the ``Authorization`` header; templates/auth.yaml
    provisions the pool). Maps token -> principal dict in the reference's
    claim shape (``{"Username": ..., "Sub": ...}`` —
    boto_utils.get_user_info, boto_utils.py:214-223).

    Tokens are held and compared as SHA-256 digests: no live credential
    bytes sit in the process image longer than construction, and the
    lookup is a full scan with ``hmac.compare_digest`` on fixed-length
    digests — per-candidate work is independent of how many prefix
    bytes match, so response timing leaks nothing about any token."""

    def __init__(self, tokens: dict[str, dict]):
        import hashlib

        self._by_digest = {
            hashlib.sha256(t.encode()).hexdigest(): dict(p)
            for t, p in tokens.items()
        }

    def __call__(self, environ) -> dict | None:
        import hashlib
        import hmac

        header = environ.get("HTTP_AUTHORIZATION", "")
        scheme, _, token = header.partition(" ")
        if scheme.lower() != "bearer":
            return None
        candidate = hashlib.sha256(token.strip().encode()).hexdigest()
        found = None
        for digest, principal in self._by_digest.items():
            # no early exit: scan every entry so match position doesn't
            # show in the timing either
            if hmac.compare_digest(candidate, digest):
                found = principal
        return found


def _require(body, key, typ, what="Request"):
    if not isinstance(body, dict) or key not in body:
        raise _Invalid(f"Invalid {what}: {key!r} is a required property")
    if typ is not None and not isinstance(body[key], typ):
        raise _Invalid(f"Invalid {what}: {key!r} has the wrong type")
    return body[key]


class HttpApi:
    """WSGI callable mapping the reference routes onto an Engine.

    ``authorizer`` is the seam the reference fills with its Cognito /
    IAM authorizer (every route in templates/api.yaml carries
    ``security: [Authorizer]``): a callable ``environ -> principal |
    None``. Returning None rejects the request 401 with the gateway's
    ``{"Message": "Unauthorized"}`` body before any handler runs;
    raising :class:`Forbidden` rejects it 403. The returned principal is
    exposed to handlers for the request's duration (``DELETE /v1/queue``
    records it as the job's ``CreatedBy``, the get_user_info parity).
    ``None`` (default) leaves the transport open — the reference's
    behind-a-private-gateway deployment mode; pass
    :class:`BearerTokenAuthorizer` or your own callable for anything
    reachable. CORS preflight is answered without authentication, as API
    Gateway answers OPTIONS itself ahead of the authorizer."""

    def __init__(
        self,
        engine: Engine,
        detach_jobs: bool = True,
        authorizer=None,
    ):
        self.engine = engine
        self.detach_jobs = detach_jobs
        self.authorizer = authorizer
        self._routes = [
            ("PATCH", re.compile(r"^/v1/queue$"), self.enqueue),
            ("PATCH", re.compile(r"^/v1/queue/matches$"), self.enqueue_batch),
            ("GET", re.compile(r"^/v1/queue$"), self.get_queue),
            ("DELETE", re.compile(r"^/v1/queue/matches$"), self.cancel),
            ("DELETE", re.compile(r"^/v1/queue$"), self.process),
            (
                "PUT",
                re.compile(r"^/v1/data_mappers/(?P<id>[^/]+)$"),
                self.put_data_mapper,
            ),
            (
                "GET",
                re.compile(r"^/v1/data_mappers/(?P<id>[^/]+)$"),
                self.get_data_mapper,
            ),
            ("GET", re.compile(r"^/v1/data_mappers$"), self.get_data_mappers),
            (
                "DELETE",
                re.compile(r"^/v1/data_mappers/(?P<id>[^/]+)$"),
                self.delete_data_mapper,
            ),
            (
                "GET",
                re.compile(r"^/v1/jobs/(?P<id>[^/]+)/events$"),
                self.list_job_events,
            ),
            ("GET", re.compile(r"^/v1/jobs/(?P<id>[^/]+)$"), self.get_job),
            ("GET", re.compile(r"^/v1/jobs$"), self.list_jobs),
            ("GET", re.compile(r"^/v1/settings$"), self.list_settings),
            ("PUT", re.compile(r"^/v1/settings$"), self.put_settings),
        ]

    # --- WSGI plumbing ------------------------------------------------------

    def __call__(self, environ, start_response):
        method = environ["REQUEST_METHOD"].upper()
        path = environ.get("PATH_INFO", "")
        # multiValueQueryStringParameters parity: repeated keys collect
        qs: dict[str, list[str]] = {}
        for k, v in parse_qsl(environ.get("QUERY_STRING", "")):
            qs.setdefault(k, []).append(v)
        path_allows = set()
        for m, rx, handler in self._routes:
            match = rx.match(path)
            if not match:
                continue
            path_allows.add(m)
            if method == "OPTIONS":
                continue  # collect every verb first, answer below
            if m != method:
                continue
            # authorize before touching the body — the gateway's
            # authorizer runs ahead of request validation, so a missing
            # token 401s even with a malformed payload
            err, principal = self._auth_gate(environ)
            if err:
                return self._respond(start_response, *err)
            token = _PRINCIPAL.set(principal)
            try:
                body = self._read_body(environ)
                status, payload = handler(match.groupdict(), qs, body)
            except _Invalid as e:  # request_validator -> 422
                status, payload = 422, {"Message": str(e)}
            except AlreadyRunningError as e:
                status, payload = 400, {"Message": f"Invalid request: {e}"}
            except KeyError:
                status, payload = 404, None
            except ValueError as e:  # catch_errors -> 400
                status, payload = 400, {"Message": f"Invalid request: {e}"}
            except Exception as e:  # noqa: BLE001 — catch_errors last arm
                status, payload = 400, {
                    "Message": f"Unable to process request: {e}"
                }
            finally:
                _PRINCIPAL.reset(token)
            return self._respond(start_response, status, payload)
        if path_allows and method == "OPTIONS":
            # CORS preflight (templates/api.yaml:985-998 Cors config: the
            # gateway answers OPTIONS itself with the allow lists; the
            # reference console preflights every non-simple request)
            headers = [
                ("Access-Control-Allow-Origin", "*"),
                ("Access-Control-Allow-Headers", _CORS_ALLOW_HEADERS),
                (
                    "Access-Control-Allow-Methods",
                    ",".join(sorted(path_allows | {"OPTIONS"})),
                ),
                ("Content-Length", "0"),
            ]
            start_response(_STATUS_TEXT[204], headers)
            return [b""]
        # 404/405 only AFTER authorization: with an authorizer
        # configured, an unauthenticated caller must not be able to
        # enumerate which paths and verbs exist (API Gateway authorizes
        # unknown-resource requests too — it answers 403 before any
        # route shape leaks; preflight stays open above, matching the
        # gateway answering OPTIONS itself)
        err, _ = self._auth_gate(environ)
        if err:
            return self._respond(start_response, *err)
        if path_allows:  # known path, wrong verb
            return self._respond(
                start_response, 405, {"Message": "Method not allowed"}
            )
        return self._respond(start_response, 404, {"Message": "Not found"})

    def _auth_gate(self, environ):
        """Run the authorizer; returns (error_response, principal) where
        error_response is a (status, payload) pair to emit, or None when
        the request may proceed."""
        try:
            principal = self._authorize(environ)
        except Forbidden as e:
            return (403, {"Message": str(e) or "Forbidden"}), None
        if self.authorizer is not None and principal is None:
            # UNAUTHORIZED gateway response shape
            # (templates/api.yaml:991-993 DEFAULT_4XX Message body)
            return (401, {"Message": "Unauthorized"}), None
        return None, principal

    @staticmethod
    def _read_body(environ):
        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
        except ValueError:
            length = 0
        if not length:
            return None
        raw = environ["wsgi.input"].read(length)
        try:
            return json.loads(raw)
        except json.JSONDecodeError as e:
            raise _Invalid(f"Invalid Request: body is not JSON ({e})") from e

    @staticmethod
    def _respond(start_response, status: int, payload):
        headers = list(_CORS)
        if status == 204 or payload is None:
            headers.append(("Content-Length", "0"))
            start_response(_STATUS_TEXT[status], headers)
            return [b""]
        data = json.dumps(payload).encode()
        headers += [
            ("Content-Type", "application/json"),
            ("Content-Length", str(len(data))),
        ]
        start_response(_STATUS_TEXT[status], headers)
        return [data]

    # --- helpers -------------------------------------------------------------

    def _authorize(self, environ):
        """Run the configured authorizer; None configured -> open."""
        if self.authorizer is None:
            return None
        return self.authorizer(environ)

    @staticmethod
    def _page_params(qs, default_size):
        try:
            page_size = int(qs.get("page_size", [str(default_size)])[0])
        except ValueError:
            raise _Invalid("Invalid Request: page_size must be an integer")
        if page_size < 1:
            raise _Invalid("Invalid Request: page_size must be positive")
        start_at = qs.get("start_at", [None])[0]
        return page_size, start_at

    def _guard_running(self, action: str):
        if self.engine._running_job_exists():
            raise ValueError(
                f"Cannot {action} whilst there is a job in progress"
            )

    # --- queue (queue/handlers.py) -------------------------------------------

    def enqueue(self, path, qs, body):
        _require(body, "MatchId", None)
        items = self.engine.enqueue_matches([body])
        return 201, items[0]

    def enqueue_batch(self, path, qs, body):
        matches = _require(body, "Matches", list)
        for m in matches:
            _require(m, "MatchId", None)
        items = self.engine.enqueue_matches(matches)
        return 201, {"Matches": items}

    def get_queue(self, path, qs, body):
        page_size, start_at = self._page_params(qs, 10)
        items, next_start = self.engine.list_queue_page(start_at, page_size)
        # queue/handlers.py:89-96 serializes NextStart even when None —
        # the final page carries an explicit null (only the job-events
        # route strips None values)
        return 200, {"MatchIds": items, "NextStart": next_start}

    def cancel(self, path, qs, body):
        # queue/handlers.py:104-117: refuse while a job is in progress
        self._guard_running("delete matches")
        matches = _require(body, "Matches", list)
        ids = [
            _require(m, "DeletionQueueItemId", str, what="Matches entry")
            for m in matches
        ]
        self.engine.delete_matches(ids)
        return 204, None

    def process(self, path, qs, body):
        # the job document records the API caller (queue/handlers.py:133
        # CreatedBy = get_user_info(event)); unauthenticated transports
        # fall back to the engine's OS-user default
        job = self.engine.process_queue(
            detach=self.detach_jobs, created_by=_PRINCIPAL.get()
        )
        return 202, job

    # --- data mappers (data_mappers/handlers.py) ------------------------------

    def put_data_mapper(self, path, qs, body):
        if body is None:
            raise _Invalid("Invalid Request: body is required")
        mapper_id = path["id"]
        stored = self.engine.put_data_mapper(mapper_id, body)[mapper_id]
        return 201, {"DataMapperId": mapper_id, **stored}

    def get_data_mapper(self, path, qs, body):
        cfg = self.engine.get_data_mapper(path["id"])
        if cfg is None:
            return 404, None
        return 200, {"DataMapperId": path["id"], **cfg}

    def get_data_mappers(self, path, qs, body):
        page_size, start_at = self._page_params(qs, 10)
        rows, next_start = self.engine.list_data_mappers_page(
            start_at, page_size
        )
        # data_mappers/handlers.py:64: NextStart is explicit null on the
        # final page, never omitted
        return 200, {"DataMappers": rows, "NextStart": next_start}

    def delete_data_mapper(self, path, qs, body):
        # data_mappers/handlers.py:100-108: refuse while a job runs
        self._guard_running("delete Data Mappers")
        self.engine.delete_data_mapper(path["id"])
        return 204, None

    # --- jobs (jobs/handlers.py) ----------------------------------------------

    def get_job(self, path, qs, body):
        job = self.engine.get_job(path["id"])
        if job is None:
            return 404, None
        return 200, job

    def list_jobs(self, path, qs, body):
        page_size, start_at = self._page_params(qs, 10)
        if start_at is not None:
            try:
                start_at = int(start_at)
            except ValueError:
                raise _Invalid(
                    "Invalid Request: start_at must be a timestamp"
                )
        jobs, next_start = self.engine.list_jobs(
            page_size=page_size, start_at=start_at
        )
        # jobs/handlers.py:93-104: NextStart is an explicit null on a
        # short (final) page
        return 200, {"Jobs": jobs, "NextStart": next_start}

    def list_job_events(self, path, qs, body):
        page_size, start_at = self._page_params(qs, 20)
        watermark = start_at or "0"
        # jobs/handlers.py:141-146 — repeated filter=Key=Prefix params,
        # each applied as a begins_with on the event attribute
        filters = []
        for f in qs.get("filter", []):
            if "=" not in f:
                raise _Invalid("Invalid Request: filter must be Key=Value")
            filters.append(tuple(f.split("=", 1)))

        def keep(ev):
            return all(
                str(ev.get(k, "")).startswith(v) for k, v in filters
            )

        job = self.engine.get_job(path["id"])
        if job is None:
            return 404, None
        # page forward through engine pages until the filtered page fills
        # or the watermark stops advancing (the handler's page_size+1 loop)
        items: list[dict] = []
        wm = watermark
        while len(items) < page_size:
            page, next_wm = self.engine.list_job_events(
                path["id"], wm, page_size
            )
            items.extend(
                ev for ev in page if keep(ev)
            )
            if next_wm == wm or not page:
                break
            wm = next_wm
        items = items[:page_size]
        if items:
            wm = items[-1]["Sk"]
        terminal = job.get("JobFinishTime") is not None
        exhausted = len(items) < page_size
        resp = {"JobEvents": items}
        # _get_watermark parity: a finished job with an exhausted page
        # returns no watermark; an in-progress job always returns one
        if not (terminal and exhausted):
            resp["NextStart"] = wm
        return 200, resp

    # --- settings (settings/handlers.py) ---------------------------------------

    def list_settings(self, path, qs, body):
        return 200, {"Settings": self.engine.get_settings()}

    def put_settings(self, path, qs, body):
        if body is None:
            raise _Invalid("Invalid Request: body is required")
        return 200, {"Settings": self.engine.put_settings(body)}


def create_app(
    engine: Engine, detach_jobs: bool = True, authorizer=None
) -> HttpApi:
    return HttpApi(engine, detach_jobs=detach_jobs, authorizer=authorizer)


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args):  # tests/CLI: no stderr access log
        pass


def serve(
    engine: Engine,
    host: str = "127.0.0.1",
    port: int = 0,
    detach_jobs: bool = True,
    background: bool = False,
    authorizer=None,
):
    """Serve the app with stdlib wsgiref. Returns the server; with
    ``background=True`` requests are handled on a daemon thread and the
    caller gets the bound server back immediately (tests)."""
    app = create_app(engine, detach_jobs=detach_jobs, authorizer=authorizer)
    server = make_server(host, port, app, handler_class=_QuietHandler)
    if background:
        t = threading.Thread(target=server.serve_forever, daemon=True)
        t.start()
        server._thread = t  # noqa: SLF001 — joinable handle for tests
        return server
    return server
