"""Golden-fixture harness for the standard-module ingest pipelines.

Runs a reference module fileset's shipped test corpus —
`filebeat/module/<mod>/<fileset>/test/<name>.log` plus
`<name>.log-expected.json`, the exact fixtures the reference's own
module tests pin (`filebeat/fileset/pipelines.go`,
`filebeat/tests/system/test_modules.py`) — through the compiled
ingest pipeline (`beats_spark/ingest.py` + the hand-translated script
handlers in `beats_spark/module_scripts.py`) and compares
field-by-field.

Comparison contract (shared by `tests/test_module_pipelines.py` and
`scripts/module_check.py`): pipeline-computed fields compare 1:1;
excluded are (a) harness-added constants the pipeline never touches
(event.module/dataset, fileset.name, service.type, input.type,
log.offset, ecs.version, event.timezone), (b) environment-dependent
enrichments unavailable in-sandbox (source.geo.*, source.as.* — no
MaxMind DB; user_agent fine detail — ES bundles uap-core, this repo
ships a compact family table), and (c) time-of-run values
(@timestamp for yearless syslog timestamps — ES infers the current
year; event.ingested; event.created). @timestamp IS compared exactly
where the source format carries the full date (e.g. nginx HTTPDATE) —
those filesets set ``compare_timestamp=True`` in ``FIXTURE_INPUT``.

``FIXTURE_INPUT`` mirrors each fileset's input configuration
(`filebeat/module/<mod>/<fileset>/config/*.yml`): the multiline
pattern (negate + match:after — a line NOT matching the pattern
continues the previous event) and exclude_lines, which the reference
applies at harvest time before the pipeline ever sees the event.
"""
from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from beats_spark.module_scripts import REFERENCE_MODULE_ROOT as REF, load_module_pipeline
from beats_spark.session import local_frame

__all__ = ["FIXTURE_INPUT", "FixtureInput", "run_fixture", "diff_rows",
           "fixture_names", "EXCLUDED_FIELDS"]

# fields never compared (see module docstring)
EXCLUDED_FIELDS = re.compile(
    r"^(@timestamp|event\.(ingested|created|timezone|module|dataset"
    r"|original)|fileset\.name|service\.type|input\.type|log\.(offset"
    r"|file\..*|flags)|ecs\.version|agent\..*|host\.os\..*"
    r"|source\.(geo|as)\..*|destination\.(geo|as)\..*"
    r"|user_agent\.(name|version|os\..*|device\..*)|tags|error\..*"
    r"|related\.hosts"
    # logstash pipeline-json script renders list elements via Java
    # Map.toString ('{k=v}'); this engine keeps the full JSON values —
    # higher fidelity, same information, textually incomparable
    r"|logstash\.log\.log_event\.action)$"
)


@dataclass
class FixtureInput:
    """One fileset's harvest-time input rules + comparison mode."""

    multiline: str | None = None      # continuation pattern (negate'd form)
    exclude_lines: list[str] = field(default_factory=list)
    compare_timestamp: bool = False   # full-date formats only
    json_lines: bool = False          # fileset reads NDJSON (no merge)
    pre: object = None                # input-chain processors (df → df)


def _json_input(df):
    """Filebeat json-reader inputs (json.* in config, no
    keys_under_root): each line parses into the `json` object before
    the pipeline runs (osquery, kibana). The reader CONSUMES the raw
    line — the event carries no `message` field."""
    from pyspark.sql import functions as F

    return (df.withColumn(
        "json", F.from_json("message", "map<string,string>"))
        .withColumn("message", F.lit(None).cast("string")))


def _kibana_audit_input(df):
    """kibana/audit input chain (config/audit.yml): decode_json_fields
    of message into kibana._audit_temp (message is kept)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "kibana._audit_temp",
        F.from_json("message", "map<string,string>"))


def _audit_request_mime(df):
    """elasticsearch/audit input-chain enrichment
    (config/audit.yml:14-48): extract the request body — json
    `request.body` key or the plaintext `request_body=[...]` tail —
    and sniff http.request.mime_type (detect_mime_type processor; the
    Go sniffer reports text with its charset)."""
    from pyspark.sql import functions as F

    body = F.when(
        F.col("message").startswith("{"),
        F.get_json_object(F.col("message"), "$['request.body']"),
    ).otherwise(F.regexp_extract(F.col("message"),
                                 r"request_body=\[(.*)\]$", 1))
    body = F.when(body == "", F.lit(None)).otherwise(
        F.regexp_replace(body, r"^\s+", ""))
    mime = (F.when(body.startswith("{") | body.startswith("["),
                   "application/json")
            .otherwise(F.when(body.isNotNull(),
                              "text/plain; charset=utf-8")))
    return df.withColumn("http.request.mime_type", mime)


def _neg(pattern: str) -> str:
    """negate:true match:after — a line NOT starting with `pattern`
    continues the previous event; expressed as one lookahead regex so
    the merge loop only ever tests 'does this line continue?'."""
    return r"^(?!" + pattern.lstrip("^") + r")"


# (module, fileset) → input rules, mirrored from config/*.yml
FIXTURE_INPUT: dict[tuple[str, str], FixtureInput] = {
    ("nginx", "access"): FixtureInput(compare_timestamp=True),
    ("nginx", "error"): FixtureInput(multiline=_neg(r"\d{4}/\d{2}/\d{2} "),
                                     compare_timestamp=True),
    ("nginx", "ingress_controller"): FixtureInput(compare_timestamp=True),
    ("system", "syslog"): FixtureInput(multiline=r"^\s"),
    ("system", "auth"): FixtureInput(),
    ("apache", "access"): FixtureInput(compare_timestamp=True),
    ("apache", "error"): FixtureInput(compare_timestamp=True),
    ("postgresql", "log"): FixtureInput(
        multiline=_neg(r"\d{4}-\d{2}-\d{2} "), compare_timestamp=True),
    ("mysql", "error"): FixtureInput(
        multiline=_neg(r"([0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{6})")),
    ("mysql", "slowlog"): FixtureInput(
        multiline=_neg(r"(# User@Host: |# Time: )"),
        exclude_lines=[r"^[\/\w\.]+, Version: .* started with:.*",
                       r"^# Time:.*"]),
    ("kafka", "log"): FixtureInput(multiline=_neg(r"\[")),
    ("redis", "log"): FixtureInput(exclude_lines=[r"^\s+[\-`('.|_]"]),
    ("haproxy", "log"): FixtureInput(),
    ("iis", "access"): FixtureInput(exclude_lines=[r"^#"],
                                    compare_timestamp=True),
    ("iis", "error"): FixtureInput(exclude_lines=[r"^#"],
                                   compare_timestamp=True),
    ("elasticsearch", "server"): FixtureInput(
        multiline=_neg(r"(\[[0-9]{4}-[0-9]{2}-[0-9]{2}|\{)")),
    ("elasticsearch", "slowlog"): FixtureInput(
        multiline=_neg(r"(\[?[0-9]{4}-[0-9]{2}-[0-9]{2}|\{)")),
    ("elasticsearch", "deprecation"): FixtureInput(
        multiline=_neg(r"(\[[0-9]{4}-[0-9]{2}-[0-9]{2}|\{)")),
    ("elasticsearch", "gc"): FixtureInput(
        multiline=_neg(r"(\[?[0-9]{4}-[0-9]{2}-[0-9]{2}|\{)"),
        exclude_lines=[r"^(OpenJDK|Java HotSpot).* Server VM ",
                       r"^CommandLine flags: ", r"^Memory: ", r"^\{"]),
    ("elasticsearch", "audit"): FixtureInput(pre=_audit_request_mime),
    ("logstash", "log"): FixtureInput(
        multiline=_neg(r"((\[[0-9]{4}-[0-9]{2}-[0-9]{2}[^\]]+\])|(\{.+\}))")),
    ("logstash", "slowlog"): FixtureInput(),
    ("osquery", "result"): FixtureInput(pre=_json_input),
    ("mongodb", "log"): FixtureInput(),
    ("auditd", "log"): FixtureInput(),
    ("nats", "log"): FixtureInput(compare_timestamp=True),
    ("icinga", "main"): FixtureInput(multiline=_neg(r"\[")),
    ("icinga", "debug"): FixtureInput(multiline=_neg(r"\[")),
    ("icinga", "startup"): FixtureInput(),
    ("traefik", "access"): FixtureInput(compare_timestamp=True),
    ("kibana", "log"): FixtureInput(pre=_json_input),
    ("kibana", "audit"): FixtureInput(pre=_kibana_audit_input),
    ("santa", "log"): FixtureInput(),
    ("pensando", "dfw"): FixtureInput(),
}


def merge_multiline(lines: list[str], pattern: str) -> list[str]:
    """A line matching `pattern` continues the previous event (the
    negate:true configs are pre-rewritten to a lookahead by _neg)."""
    out: list[str] = []
    rx = re.compile(pattern)
    for ln in lines:
        if out and rx.match(ln):
            out[-1] += "\n" + ln
        else:
            out.append(ln)
    return out


def fixture_names(module: str, fileset: str) -> list[str]:
    d = f"{REF}/{module}/{fileset}/test"
    return sorted(os.path.basename(p)[: -len("-expected.json")]
                  for p in os.listdir(d) if p.endswith("-expected.json"))


def run_fixture(spark, module: str, fileset: str, log_name: str,
                spec: FixtureInput | None = None):
    """Run one shipped fixture through the compiled pipeline; returns
    (rows-by-id, expected-list, spec). The fixture lines are a
    :func:`local_frame`, so the pipeline's deterministic projections
    over them run on the driver (a fixture is at most a few hundred
    lines)."""
    spec = spec or FIXTURE_INPUT.get((module, fileset)) or FixtureInput()
    log = f"{REF}/{module}/{fileset}/test/{log_name}"
    expected = json.load(open(log + "-expected.json"))
    lines = open(log, errors="replace").read().splitlines()
    if not spec.multiline:
        # single-line mode skips empties; under multiline an empty line
        # is a continuation and must survive into the merged event
        lines = [ln for ln in lines if ln != ""]
    else:
        # the log input merges multiline groups FIRST; exclude_lines
        # then filters whole merged events (so e.g. the mysql slowlog
        # server-restart header block drops as one unit)
        lines = merge_multiline(lines, spec.multiline)
    for pat in spec.exclude_lines:
        rx = re.compile(pat)
        lines = [ln for ln in lines if not rx.search(ln)]
    # expected.json lists the first ≤100 pipeline OUTPUT events
    # (drop-processor docs absent) — feed everything, truncate the
    # OUTPUT to the expected length below
    tz = next((e.get("event.timezone") for e in expected
               if "event.timezone" in e), None)
    df = local_frame(
        spark, [(i, ln, tz, "2030-01-01T00:00:00.000Z", "1.8.0") for i, ln in
         enumerate(lines)],
        "row_id long, message string, `event.timezone` string, "
        "`@timestamp` string, `ecs.version` string",
    )
    if spec.pre is not None:
        df = spec.pre(df)
    pipe = load_module_pipeline(module, fileset)
    out = pipe(df)
    rows = sorted(out.collect(), key=lambda r: r["row_id"])
    rows = rows[: len(expected)]
    got = {}
    for pos, r in enumerate(rows):
        d = r.asDict()
        # flatten map-typed columns (json-processor targets) into
        # dotted keys so expected 'a.b.c' finds map 'a.b' entry 'c'
        def _spread(prefix: str, mk: str, mv):
            full = f"{prefix}.{mk}"
            # a null flat column (the other branch's grok) must not
            # shadow the live map entry
            if d.get(full) is None:
                d[full] = mv
            # nested objects are stored as JSON text — recurse so
            # expected 'a.b.c.d' finds them
            sub = mv
            if isinstance(mv, str) and mv.startswith("{"):
                try:
                    sub = json.loads(mv)
                except ValueError:
                    return
            if isinstance(sub, dict):
                for sk, sv in sub.items():
                    _spread(full, sk, sv)

        for k in list(d):
            if isinstance(d[k], dict):
                for mk, mv in d.pop(k).items():
                    _spread(k, mk, mv)
            elif (isinstance(d[k], str) and d[k].startswith("{")
                    and k not in ("message", "event.original")):
                # a renamed json-object value kept as JSON text
                # (logstash.log.log_event): surface its members too
                try:
                    sub = json.loads(d[k])
                except ValueError:
                    continue
                if isinstance(sub, dict):
                    for sk, sv in sub.items():
                        _spread(k, sk, sv)
        got[pos] = d
    if len(rows) != len(expected):
        raise AssertionError(
            f"pipeline emitted {len(rows)} events vs {len(expected)} "
            "expected")
    return got, expected, spec


def diff_rows(got: dict, expected: list, compare_timestamp: bool = False,
              extra_exclude: re.Pattern | None = None) -> list[tuple]:
    """Field-subset comparison; returns (row, key, want, have) tuples."""
    mismatches = []
    for i, exp in enumerate(expected):
        row = got.get(i)
        if row is None:
            mismatches.append((i, "<row>", "present", "missing"))
            continue
        for key, want in exp.items():
            if EXCLUDED_FIELDS.match(key):
                continue
            if extra_exclude is not None and extra_exclude.match(key):
                continue
            if key == "@timestamp" and not compare_timestamp:
                continue
            have = row.get(key)
            if hasattr(have, "strftime"):
                # date-processor targets come back as timestamps; ES
                # simulate output renders them ISO-8601 with ms + Z
                have = (have.strftime("%Y-%m-%dT%H:%M:%S.") +
                        f"{have.microsecond // 1000:03d}Z")
            if isinstance(want, float) and have is not None:
                if abs(float(have) - want) < 1e-9:
                    continue
            # ES fields are per-document dynamic — the same field can be
            # an int on one pipeline branch and a digit-string on another
            # (postgresql process.pid: grok :long vs csv). A columnar
            # engine holds ONE type per column, so numeric-string pairs
            # with equal values compare equal here; real value drift
            # still fails.
            if (isinstance(want, (int, float)) and isinstance(have, str)) \
                    or (isinstance(have, (int, float))
                        and isinstance(want, str)):
                try:
                    if float(want) == float(have):
                        continue
                except (TypeError, ValueError):
                    pass
            # empty-string capture: joni distinguishes a participating
            # empty group from a non-participating one; the one-regex
            # capture-join kernel cannot — '' expected vs missing passes
            if want == "" and have is None:
                continue
            # list values canonicalized to JSON text (map<string,string>
            # json-processor targets hold nested arrays as their JSON)
            if isinstance(want, list) and isinstance(have, str):
                try:
                    if json.loads(have) == want:
                        continue
                except ValueError:
                    pass
            if have != want:
                mismatches.append((i, key, want, have))
    return mismatches
