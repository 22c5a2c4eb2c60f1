"""HTTP inputs from the reference's x-pack family, the two members
that are fully implementable in-sandbox with the stdlib:

* ``http_endpoint`` — LISTEN-side webhook receiver
  (``x-pack/filebeat/input/http_endpoint/handler.go:36-109``,
  ``validate.go:31-54``, ``config.go:32-47``): a bound HTTP server
  accepts POSTed JSON objects, validates the header ladder (basic
  auth → secret header → method → content type), answers
  ``{"message": "success"}``, and publishes one event per request
  with the object nested under a ``prefix`` key.

* ``httpjson`` — POLL-side API client
  (``x-pack/filebeat/input/httpjson/requester.go:77-176``,
  ``pagination.go:40-125``): issue a GET/POST, pull the event array
  out of the response (``json_objects_array``), optionally explode
  each object on a nested list (``split_events_by``), then follow
  pagination — next URL from a body field (``id_field`` +
  ``url_field`` query-param rewrite, or the raw value as the URL) or
  from a response header (Link-style regex) — until the chain ends.

The listen-side server owns its port on a daemon thread and hands
each validated body to the replay buffer of
:class:`beats_spark.streaming.sources.BufferedStreamReader`, like the
repo's other socket inputs (``udp_source.py``, ``unix_source.py``):
within-run effectively-once, strictly stronger than the reference's
stateless http_endpoint input (no acks: an event is lost if Beats dies
between publish and delivery).

The poll-side client is a plain driver-side function
(``httpjson_fetch``) so the pagination walk is testable without
Spark, wrapped as a batch DataFrame (``httpjson_scan``).

Scale note: one webhook port / one API poll loop is one driver-side
ingest point — the same single-process shape as the reference input.
These exist for protocol parity and edge collection; the 100 TB
ingest path remains kafka with collectors in front.
"""

from __future__ import annotations

import base64
import json
import re
import threading
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource

from beats_spark.session import local_frame
from beats_spark.streaming.sources import BufferedStreamReader

SCHEMA = "value string, sender string, recv_seq long"

_SUCCESS = '{"message": "success"}'


def _validate_headers(
    handler: BaseHTTPRequestHandler,
    *,
    basic_auth: bool = False,
    username: str = "",
    password: str = "",
    secret_header: str = "",
    secret_value: str = "",
    content_type: str = "application/json",
) -> tuple[int, str]:
    """The reference's ``apiValidator.ValidateHeader`` ladder
    (``validate.go:31-54``), same order and same status codes:
    basic auth (401) → secret header (401) → method (405) →
    content type (415). Returns ``(0, "")`` when valid."""
    if basic_auth:
        got = handler.headers.get("Authorization", "")
        want = "Basic " + base64.b64encode(
            f"{username}:{password}".encode()
        ).decode()
        if got != want:
            return 401, "Incorrect username or password"
    if secret_header and secret_value:
        if handler.headers.get(secret_header) != secret_value:
            return 401, "Incorrect header or header secret"
    if handler.command != "POST":
        return 405, "Only POST requests supported"
    if content_type and handler.headers.get("Content-Type") != content_type:
        return 415, f"Wrong Content-Type header, expecting {content_type}"
    return 0, ""


def _read_json_object(body: bytes) -> tuple[str, int, str]:
    """``httpReadJsonObject`` (``handler.go:81-109``): empty body →
    406, non-object → 400, malformed JSON → 400; a valid object is
    re-serialized canonically (sorted keys) so the published event
    text is deterministic."""
    if not body:
        return "", 406, "Body cannot be empty"
    if not body.lstrip(b" \t\r\n").startswith(b"{"):
        return "", 400, "Only JSON objects are accepted"
    try:
        obj = json.loads(body)
    except ValueError as e:
        return "", 400, f"Malformed JSON body: {e}"
    return json.dumps(obj, sort_keys=True, separators=(",", ":")), 0, ""


class HttpEndpointDataSource(DataSource):
    """``spark.readStream.format("http_endpoint")`` — options:
    ``host`` (default 127.0.0.1), ``port`` (required), ``url``
    (accepted path, default ``/``; other paths 404), ``basicAuth`` /
    ``username`` / ``password``, ``secretHeader`` / ``secretValue``,
    ``contentType`` (default ``application/json``), ``responseCode``
    (default 200), ``responseBody`` (default
    ``{"message": "success"}``), ``maxBatchSize``."""

    @classmethod
    def name(cls) -> str:
        return "http_endpoint"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema):  # noqa: N802 (API name)
        return _HttpEndpointReader(self.options)


class _HttpEndpointReader(BufferedStreamReader):
    def __init__(self, options):
        super().__init__(options)
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options["port"])
        self.path = options.get("url", "/")
        self.basic_auth = str(options.get("basicauth", "false")).lower() == "true"
        self.username = options.get("username", "")
        self.password = options.get("password", "")
        self.secret_header = options.get("secretheader", "")
        self.secret_value = options.get("secretvalue", "")
        self.content_type = options.get("contenttype", "application/json")
        self.response_code = int(options.get("responsecode", 200) or 200)
        self.response_body = options.get("responsebody", _SUCCESS)

    def _start(self) -> ThreadingHTTPServer:
        reader = self

        class _Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # noqa: D102 — silence stderr
                pass

            def _reply(self, status: int, body: str) -> None:
                data = body.encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _serve(self) -> None:
                if self.path.split("?", 1)[0] != reader.path:
                    self._reply(404, '{"message": "not found"}')
                    return
                status, err = _validate_headers(
                    self,
                    basic_auth=reader.basic_auth,
                    username=reader.username,
                    password=reader.password,
                    secret_header=reader.secret_header,
                    secret_value=reader.secret_value,
                    content_type=reader.content_type,
                )
                if status:
                    self._reply(status, json.dumps({"message": err}))
                    return
                n = int(self.headers.get("Content-Length", 0) or 0)
                body = self.rfile.read(n) if n else b""
                text, status, err = _read_json_object(body)
                if status:
                    self._reply(status, json.dumps({"message": err}))
                    return
                sender = f"{self.client_address[0]}:{self.client_address[1]}"
                reader._push(text, sender)
                self._reply(reader.response_code, reader.response_body)

            # the reference validates method INSIDE the ladder so a
            # GET gets 405 (not the default 501) — route every verb
            # through the same path.
            do_POST = do_GET = do_PUT = do_DELETE = do_PATCH = _serve

        server = ThreadingHTTPServer((self.host, self.port), _Handler)
        server.daemon_threads = True
        threading.Thread(target=server.serve_forever, daemon=True,
                         name=f"http-endpoint-{self.port}").start()
        return server


def http_endpoint_events(
    raw: DataFrame, prefix: str = "json", message_key: str = "message"
) -> DataFrame:
    """http_endpoint frame → event schema. The reference nests the
    posted object under ``prefix`` (``handler.go:54-63``); here the
    event ``message`` is the canonical JSON text
    ``{"<prefix>": <posted object>}`` so the existing
    ``decode_json_fields`` chain applies unchanged. No replayable
    offset (webhooks have no position); ``recv_seq`` is lineage."""
    return raw.select(
        F.concat(F.lit("http://"), F.col("sender")).alias("source"),
        F.lit(0).alias("part_id"),
        F.lit(None).cast("long").alias("offset"),
        F.current_timestamp().alias("ts"),
        F.concat(
            F.lit('{"%s":' % prefix), F.col("value"), F.lit("}")
        ).alias(message_key),
        F.col("recv_seq"),
    )


def stream_http_endpoint(
    spark: SparkSession,
    port: int,
    host: str = "127.0.0.1",
    prefix: str = "json",
    message_key: str = "message",
    **options: str,
) -> DataFrame:
    """Webhook input: bind ``host:port``, one event per accepted POST,
    into the same multiline → processor → route chain as every other
    source."""
    spark.dataSource.register(HttpEndpointDataSource)
    r = (
        spark.readStream.format("http_endpoint")
        .option("host", host)
        .option("port", port)
    )
    for k, v in options.items():
        r = r.option(k, v)
    return http_endpoint_events(r.load(), prefix, message_key)


# ---------------------------------------------------------------- httpjson


def _get_path(obj: dict, dotted: str):
    """``common.MapStr.GetValue`` — dotted-path lookup; returns
    ``(value, True)`` or ``(None, False)``."""
    cur = obj
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None, False
        cur = cur[part]
    return cur, True


def _split_events(split_key: str, event: dict) -> list[dict]:
    """``splitEvent`` (``requester.go:238-286``): explode ``event``
    on the array under ``split_key`` — one output object per element,
    the array field replaced by that element; events without the key
    (or with a non-array / empty value) pass through unchanged."""
    if not split_key:
        return [event]
    keys = split_key.split("..", 1)
    head = keys[0]
    v, ok = _get_path(event, head) if head else (None, False)
    if not head or not ok or not isinstance(v, list) or not v:
        return [event]
    out = []
    for elem in v:
        e = json.loads(json.dumps(event))  # deep copy
        cur = e
        parts = head.split(".")
        for p in parts[:-1]:
            cur = cur[p]
        cur[parts[-1]] = elem
        if len(keys) == 2 and keys[1] and isinstance(elem, dict):
            out.extend(_split_events(keys[1], e))
        else:
            out.append(e)
    return out


def httpjson_fetch(
    url: str,
    *,
    method: str = "GET",
    headers: dict[str, str] | None = None,
    body: dict | None = None,
    json_objects_array: str = "",
    split_events_by: str = "",
    pagination: dict | None = None,
    max_pages: int = 100,
    opener=None,
) -> list[tuple[int, str]]:
    """One full pagination walk of the reference's poll loop
    (``requester.go:77-176``): request, extract the event array,
    follow the next-page pointer until absent. Returns
    ``(page_idx, event_json)`` pairs — driver-side and Spark-free so
    the walk is unit-testable against a local ``http.server``.

    ``pagination`` keys (``pagination.go:17-24``): ``id_field``
    (dotted path into the LAST event, falling back to the response
    body) plus ONE of ``url_field`` (set as a query parameter on the
    current URL), ``url`` (jump to this URL putting the value in the
    POST body under ``req_field``), or neither (the value IS the next
    URL). Header mode: ``{"header": {"field_name": "Link",
    "regex_pattern": "<(.*)>; *rel=\\"next\\""}}``.

    ``max_pages`` bounds the walk (the reference trusts the server to
    terminate; a distributed job must not loop forever on a buggy
    API)."""
    fetch = opener or (lambda req: urllib.request.urlopen(req, timeout=30))
    out: list[tuple[int, str]] = []
    cur_url = url
    cur_body = dict(body or {})
    pag = pagination or {}
    for page in range(max_pages):
        data = None
        if method.upper() == "POST":
            data = json.dumps(cur_body).encode()
        req = urllib.request.Request(
            cur_url, data=data, method=method.upper(),
            headers={"Content-Type": "application/json", **(headers or {})},
        )
        resp = fetch(req)
        raw = resp.read()
        resp_headers = dict(getattr(resp, "headers", {}) or {})
        m = json.loads(raw)

        if isinstance(m, list):
            events = m
            resp_obj: dict = {}
        elif isinstance(m, dict):
            resp_obj = m
            if not json_objects_array:
                events = [m]
            else:
                v, ok = _get_path(m, json_objects_array)
                if not ok:
                    break  # key gone → chain over (requester.go:146)
                if not isinstance(v, list):
                    raise ValueError(
                        f"content of {json_objects_array} is not a valid array"
                    )
                events = v
        else:
            raise ValueError(
                f"http.response.body is not a valid JSON object, but {type(m)}"
            )

        last_obj: dict | None = None
        for ev in events:
            if not isinstance(ev, dict):
                raise ValueError(
                    f"expected only JSON objects in the array but got {type(ev)}"
                )
            for e in _split_events(split_events_by, ev):
                last_obj = e
                out.append(
                    (page, json.dumps(e, sort_keys=True,
                                      separators=(",", ":")))
                )

        if not pag:
            break
        hdr = pag.get("header")
        if hdr:
            nxt = ""
            field = hdr["field_name"]
            rx = re.compile(hdr["regex_pattern"])
            for link in [v for k, v in resp_headers.items()
                         if k.lower() == field.lower()]:
                mt = rx.search(link)
                if mt:
                    nxt = mt.group(1)
                    break
            if not nxt or nxt == cur_url:
                break
            cur_url = nxt
            continue
        id_field = pag.get("id_field", "")
        v, ok = (_get_path(last_obj, id_field)
                 if last_obj is not None else (None, False))
        if not ok:
            v, ok = _get_path(resp_obj, id_field)
        if not ok:
            break  # no pointer → no next page (pagination.go:49-52)
        if pag.get("req_field"):
            cur_body[pag["req_field"]] = v
            if pag.get("url"):
                cur_url = pag["url"]
        elif pag.get("url_field"):
            parts = urllib.parse.urlsplit(cur_url)
            q = dict(urllib.parse.parse_qsl(parts.query))
            q[pag["url_field"]] = str(v)
            cur_url = urllib.parse.urlunsplit(
                parts._replace(query=urllib.parse.urlencode(q))
            )
        else:
            if not isinstance(v, str):
                raise ValueError("pagination ID is not of string type")
            cur_url = v
    return out


def httpjson_events(raw: DataFrame, url: str,
                    message_key: str = "message") -> DataFrame:
    """(page, value) frame → event schema; ``offset`` is the event's
    position in the poll walk — unlike the listen-side inputs this IS
    meaningful lineage (the same walk re-run yields the same order)."""
    return raw.select(
        F.lit(f"httpjson://{url}").alias("source"),
        F.col("page").cast("int").alias("part_id"),
        F.col("seq").cast("long").alias("offset"),
        F.current_timestamp().alias("ts"),
        F.col("value").alias(message_key),
    )


def httpjson_scan(spark: SparkSession, url: str,
                  message_key: str = "message", **kw) -> DataFrame:
    """Batch form: one pagination walk → DataFrame of events. The
    fetch is driver-side (one API, one client — same as the
    reference), and so is the frame: a :func:`local_frame`, over which
    Spark folds deterministic projections on the driver at optimization
    time. ``repartition`` the result before heavy per-event work."""
    rows = [(p, i, v) for i, (p, v) in enumerate(httpjson_fetch(url, **kw))]
    raw = local_frame(spark, rows, "page int, seq long, value string")
    return httpjson_events(raw, url, message_key)
