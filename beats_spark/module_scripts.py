"""Hand-translated `script` processors for the standard module pipelines.

The ES ingest pipelines the reference installs (`filebeat/module/*/*/
ingest/pipeline.yml`, rendered by `filebeat/fileset/pipelines.go`)
embed Painless `script` processors for the handful of steps the
declarative processors can't express. The compiler in
`beats_spark/ingest.py` refuses those loudly unless the caller passes
`script_handlers`; this module is the registry of hand-translated
substitutes — each one a pure-column Spark rewrite of the script's
observable semantics, keyed by `(module, fileset)` then by the
processor tag the compiler assigns (`script[<chain position>]`).

`load_module_pipeline(module, fileset)` is the one-call face: it loads
the reference pipeline definition for that fileset, wires in the
translated handlers, and returns the compiled DataFrame transform.

Scale shape: every handler is a narrow projection (array folds /
string splits guarded by the processor's `if`), zero Python, zero
shuffle — the compiled module pipeline stays scan → project×k.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import assign_where
from beats_spark.ingest import IngestPipeline, compile_ingest_pipeline

__all__ = [
    "MODULE_SCRIPT_HANDLERS",
    "load_module_pipeline",
    "module_pipeline_path",
    "REFERENCE_MODULE_ROOT",
]

REFERENCE_MODULE_ROOT = "/root/reference/filebeat/module"


def _c(name: str) -> Column:
    return F.col(f"`{name}`")


def _has(df: DataFrame, name: str) -> bool:
    return name in df.columns


# ---------------------------------------------------------------------------
# nginx/access — pick the first public IP from remote_ip_list
# (module/nginx/access/ingest/pipeline.yml, the isPrivate() walker)
# ---------------------------------------------------------------------------

def _ip_is_private(ip: Column) -> Column:
    """The script's isPrivate(): 10.*, 192.168.*, 172.16-31.*, 127.*
    (integer parse of the first two dotted tokens; parse failure →
    public, mirroring the script's catch→false)."""
    b1 = F.try_element_at(F.split(ip, r"\."), F.lit(1)).try_cast("int")
    b2 = F.try_element_at(F.split(ip, r"\."), F.lit(2)).try_cast("int")
    return F.coalesce(
        (b1 == 10)
        | ((b1 == 192) & (b2 == 168))
        | ((b1 == 172) & (b2 >= 16) & (b2 <= 31))
        | (b1 == 127),
        F.lit(False),
    )


def _nginx_pick_source_address(df: DataFrame, act: Column) -> DataFrame:
    lst = (_c("nginx.access.remote_ip_list")
           if _has(df, "nginx.access.remote_ip_list")
           else F.lit(None).cast("array<string>"))
    public = F.filter(lst, lambda ip: ~_ip_is_private(ip))
    pick = F.coalesce(F.try_element_at(public, F.lit(1)),
                      F.try_element_at(lst, F.lit(1)))
    return assign_where(df, act, {"source.address": pick})


# ---------------------------------------------------------------------------
# system/auth — ssh event → ECS categorization
# ---------------------------------------------------------------------------

def _auth_categorize(df: DataFrame, act: Column) -> DataFrame:
    ev = (_c("system.auth.ssh.event")
          if _has(df, "system.auth.ssh.event") else F.lit(None))
    ok = ev == "Accepted"
    bad = ev.isin("Invalid", "Failed")
    hit = act & F.coalesce(ok | bad, F.lit(False))
    return assign_where(df, hit, {
        "event.type": F.when(ok, F.array(F.lit("authentication_success"),
                                         F.lit("info")))
        .otherwise(F.array(F.lit("authentication_failure"), F.lit("info"))),
        "event.category": F.when(
            ok, F.array(F.lit("authentication"), F.lit("session")))
        .otherwise(F.array(F.lit("authentication"))),
        "event.action": F.lit("ssh_login"),
        "event.outcome": F.when(ok, F.lit("success"))
        .otherwise(F.lit("failure")),
    })


# ---------------------------------------------------------------------------
# apache/access — ssl protocol "TLSv1.2" → tls.version/version_protocol
# ---------------------------------------------------------------------------

def _apache_tls_split(df: DataFrame, act: Column) -> DataFrame:
    proto = (_c("apache.access.ssl.protocol")
             if _has(df, "apache.access.ssl.protocol") else F.lit(None))
    parts = F.split(F.lower(proto), "v")
    two = F.size(parts) == 2
    ver = F.element_at(parts, 2)
    ver = F.when(ver.contains("."), ver).otherwise(F.concat(ver, F.lit(".0")))
    hit = act & F.coalesce(two, F.lit(False))
    return assign_where(df, hit, {
        "tls.version": ver,
        "tls.version_protocol": F.element_at(parts, 1),
    })


# ---------------------------------------------------------------------------
# traefik/access — seconds → nanoseconds event.duration
# ---------------------------------------------------------------------------

def _traefik_duration(df: DataFrame, act: Column) -> DataFrame:
    dur = (_c("temp.duration") if _has(df, "temp.duration") else F.lit(None))
    return assign_where(df, act, {
        "event.duration": F.round(dur.cast("double") * 1000000).cast("long"),
    })


# ---------------------------------------------------------------------------
# generic factories — the shipped scripts repeat four shapes
# ---------------------------------------------------------------------------

def _scale_duration(src: str, scale: float, post_mult: int = 1):
    """`ctx.event.duration = Math.round(ctx.<src> * scale) [* post]`
    (haproxy/iis/kibana/postgresql/mysql-slowlog/es-slowlog all share
    this one-liner; the caller's `if` guard arrives via `act`).

    The product is computed in FLOAT32 before rounding: the grok
    `:float` typed capture stores a Java Float, and Painless numeric
    promotion keeps `float * int` in float — so ES emits e.g.
    round(2474.307f * 1e6f) = 2474306816, not the double-math
    2474307000. Reproduced by multiplying in float and widening to
    double only for the round."""

    def handler(df: DataFrame, act: Column) -> DataFrame:
        dur = _c(src) if _has(df, src) else F.lit(None)
        prod = (dur.cast("float") * F.lit(float(scale)).cast("float"))
        out = (F.round(prod.cast("double")).cast("long")
               * F.lit(post_mult)).cast("long")
        return assign_where(df, act, {"event.duration": out})

    return handler


def _map_values(field: str, mapping: dict[str, str]):
    """if/else-if chain remapping a field's value (redis log levels
    and roles, nats levels/msg types/directions); unmatched values
    pass through untouched, like the scripts' missing else branch."""

    def handler(df: DataFrame, act: Column) -> DataFrame:
        if not _has(df, field):
            return df
        col = _c(field)
        out = col
        for k, v in mapping.items():
            out = F.when(col == k, F.lit(v)).otherwise(out)
        return assign_where(df, act, {field: out})

    return handler


def _error_level_type(levels: list[str], field: str = "log.level"):
    """`event.type = levels.contains(log.level) ? "error" : "info"`
    (kafka, logstash ×4, elasticsearch server/slowlog, icinga)."""

    def handler(df: DataFrame, act: Column) -> DataFrame:
        lvl = _c(field) if _has(df, field) else F.lit(None)
        hit = act & lvl.isNotNull()
        out = F.when(lvl.isin(*levels), F.lit("error")).otherwise("info")
        return assign_where(df, hit, {"event.type": out})

    return handler


def _bool_map_fields(prefix: str, fields: list[str],
                     mapping: dict[str, bool]):
    """mysql/slowlog: remap Yes/No string captures to booleans in
    place (`params.mapping.get(v)` → null for unmapped non-null,
    untouched for null — matched by the try_cast fallthrough)."""

    def handler(df: DataFrame, act: Column) -> DataFrame:
        assigns = {}
        for f in fields:
            name = f"{prefix}.{f}"
            if not _has(df, name):
                continue
            col = _c(name)
            out = F.lit(None).cast("boolean")
            for k, v in mapping.items():
                out = F.when(col == k, F.lit(v)).otherwise(out)
            assigns[name] = out
        return assign_where(df, act, assigns)

    return handler


# ---------------------------------------------------------------------------
# one-off scripts
# ---------------------------------------------------------------------------

def _es_audit_outcome(df: DataFrame, act: Column) -> DataFrame:
    """elasticsearch/audit pipeline.yml script[8]: the shipped script
    sets outcome from event_type, then unconditionally overwrites from
    event.action — so the observable result is success iff
    event.action is a success event (bug-for-bug)."""
    action = (_c("event.action") if _has(df, "event.action")
              else F.lit(None).cast("string"))
    ok = action.isin("authentication_success", "access_granted",
                     "run_as_granted", "connection_granted")
    out = F.when(F.coalesce(ok, F.lit(False)), F.lit("success")) \
        .otherwise("failure")
    return assign_where(df, act, {"event.outcome": out})


def _es_audit_sub_action(df: DataFrame, act: Column) -> DataFrame:
    """elasticsearch/audit pipeline-plaintext.yml: action += '[sub]'."""
    sub = (_c("elasticsearch.audit.sub_action")
           if _has(df, "elasticsearch.audit.sub_action") else F.lit(None))
    action = (_c("elasticsearch.audit.action")
              if _has(df, "elasticsearch.audit.action") else F.lit(None))
    hit = act & sub.isNotNull()
    return assign_where(df, hit, {
        "elasticsearch.audit.action":
            F.concat(action, F.lit("["), sub, F.lit("]"))})


def _es_gc_durations(df: DataFrame, act: Column) -> DataFrame:
    """elasticsearch/server script[5]: gc observation/collection
    durations normalized to ms from their unit (s/ms/m)."""
    assigns = {}
    for kind in ("observation_duration", "collection_duration"):
        base = f"elasticsearch.server.gc.{kind}"
        if not _has(df, f"{base}.time") or not _has(df, f"{base}.unit"):
            continue
        t = _c(f"{base}.time").cast("double")
        u = _c(f"{base}.unit")
        ms = (F.when(u == "s", t * 1000)
              .when(u == "ms", t)
              .when(u == "m", t * 60000))
        assigns[f"{base}.ms"] = ms
    return assign_where(df, act, assigns)


def _logstash_action_to_strings(df: DataFrame, act: Column) -> DataFrame:
    """logstash pipeline-json script[8]: log_event.action list →
    strings (`v.toString()`), no-op for scalar values. The `if`
    (`instanceof List`) arrives via act, so non-list rows keep their
    old value through the guard."""
    fld = "logstash.log.log_event.action"
    if not _has(df, fld):
        return df
    col = _c(fld)
    return assign_where(df, act, {fld: col.cast("string")})


def _osquery_nest_result(df: DataFrame, act: Column) -> DataFrame:
    """osquery/result script[3]: move the parsed `json` document under
    `osquery.result` (dict-copy in the script; a column rename in the
    columnar model — the json processor target is one map column).
    Script has no `if` and runs on every active doc; failed docs carry
    a null map, so the global rename is value-identical for them."""
    out = df
    if "json" in df.columns:
        out = out.withColumnRenamed("json", "osquery.result")
    for c in df.columns:
        if c.startswith("json."):
            out = out.withColumnRenamed(c, "osquery.result." + c[5:])
    return out


# ---------------------------------------------------------------------------
# nginx/ingress_controller — five list-walker scripts (idx 11..15)
# ---------------------------------------------------------------------------

def _ic(field: str):
    return "nginx.ingress_controller." + field


def _ingress_last_int(src: str, dst: str):
    """last element of a string list, parsed as int (scripts 11/13:
    upstream response length / status code; parse failure → null,
    the catch branch)."""

    def handler(df: DataFrame, act: Column) -> DataFrame:
        lst = _c(src) if _has(df, src) else F.lit(None).cast("array<string>")
        last = F.try_element_at(lst, F.lit(-1))
        return assign_where(df, act, {dst: last.try_cast("long")})

    return handler


def _ingress_sum_time(df: DataFrame, act: Column) -> DataFrame:
    """script 12: response time = sum of the float list."""
    src = _ic("upstream.response.time_list")
    lst = _c(src) if _has(df, src) else F.lit(None).cast("array<string>")
    total = F.aggregate(lst, F.lit(0.0),
                        lambda acc, x: acc + F.coalesce(
                            x.try_cast("double"), F.lit(0.0)))
    return assign_where(df, act, {_ic("upstream.response.time"): total})


def _ingress_upstream_addr(df: DataFrame, act: Column) -> DataFrame:
    """script 14: last upstream address, split into ip[:port]."""
    src = _ic("upstream_address_list")
    lst = _c(src) if _has(df, src) else F.lit(None).cast("array<string>")
    last = F.try_element_at(lst, F.lit(-1))
    parts = F.split(last, ":")
    has_port = F.size(parts) > 1
    return assign_where(df, act, {
        _ic("upstream.ip"): F.when(has_port, F.element_at(parts, 1))
        .otherwise(last),
        _ic("upstream.port"): F.when(
            has_port, F.try_element_at(parts, F.lit(2)).try_cast("long")),
    })


def _ingress_pick_source(df: DataFrame, act: Column) -> DataFrame:
    """script 15: first public IP from remote_ip_list (same
    isPrivate() walker as nginx/access)."""
    src = _ic("remote_ip_list")
    lst = _c(src) if _has(df, src) else F.lit(None).cast("array<string>")
    public = F.filter(lst, lambda ip: ~_ip_is_private(ip))
    pick = F.coalesce(F.try_element_at(public, F.lit(1)),
                      F.try_element_at(lst, F.lit(1)))
    return assign_where(df, act, {"source.address": pick})


# ---------------------------------------------------------------------------
# auditd/log — the three Painless scripts of the heaviest module
# ---------------------------------------------------------------------------

_AUDITD_HEX_KEYS = [
    "exe", "cmd", "data", "path", "comm", "file", "name", "watch", "cwd",
    "acct", "dir", "vm", "old-chardev", "new-chardev", "old-disk",
    "new-disk", "old-fs", "new-fs", "old-net", "new-net", "device",
    "cgroup", "apparmor", "operation", "denied_mask", "info", "profile",
    "requested_mask", "old-rng", "new-rng", "ocomm", "grp", "new_group",
    "invalid_context", "sw", "root_dir", "proctitle",
]


def _auditd_normalize(df: DataFrame, act: Column) -> DataFrame:
    """auditd/log script[8]: walk the auditd.log kv map — drop
    '?'/'(null)'/'' entries, hex-decode the known possibly-hex keys
    (keeping the raw hex when the decode contains nothing that needed
    encoding, like the reference's convertHexToString), trim one
    layer of quotes, and map arch c000003e → x86_64. Pure JVM map
    transforms — zero Python."""
    if "auditd.log" not in df.columns:
        return df
    m = _c("auditd.log")

    def norm(k: Column, v: Column) -> Column:
        is_hex = v.rlike("^(?:[0-9A-Fa-f]{2})+$")
        pairs = F.regexp_extract_all(v, F.lit("(..)"), 1)
        codes = F.transform(pairs, lambda p: F.conv(p, 16, 10).cast("int"))
        needed = F.exists(
            codes, lambda c: (c < 33) | (c == 34) | (c == 127))
        decoded = F.array_join(
            F.transform(
                codes,
                lambda c: F.when(
                    (c < 32) | (c == 127),
                    F.concat(F.lit("^"), F.char(c.bitwiseXOR(F.lit(64)))))
                .otherwise(F.char(c))), "")
        hexed = F.when(k.isin(*_AUDITD_HEX_KEYS) & is_hex & needed,
                       decoded).otherwise(v)
        # trimQuotes: strip ONE leading and ONE trailing ' or "
        t = F.regexp_replace(hexed, "^['\"]", "")
        t = F.regexp_replace(t, "['\"]$", "")
        return F.when((k == "arch") & (t == "c000003e"),
                      F.lit("x86_64")).otherwise(t)

    cleaned = F.map_filter(
        m, lambda _k, v: ~v.isin("?", "(null)", ""))
    out = F.transform_values(cleaned, norm)
    return assign_where(df, act, {"auditd.log": out})


def _auditd_params() -> dict:
    from beats_spark.ingest import load_ingest_pipeline

    cfg = load_ingest_pipeline(os.path.join(
        REFERENCE_MODULE_ROOT, "auditd/log/ingest/pipeline.yml"))
    for entry in cfg["processors"]:
        (name, c), = entry.items()
        if name == "script" and (c or {}).get("params", {}).get("syscalls"):
            return c["params"]
    raise RuntimeError("auditd ECS params table not found")


def _auditd_copy_targets(params: dict) -> list[str]:
    outs = set()
    for table in (params.get("types", {}), params.get("syscalls", {})):
        for acts in table.values():
            for a in acts:
                for rule in a.get("copy") or []:
                    outs.add(rule["to"] + ".id")
                    outs.add(rule["to"] + ".name")
    return sorted(outs)


def _auditd_ecs(df: DataFrame, act: Column) -> DataFrame:
    """auditd/log script[18]: the record-type/syscall → ECS
    categorization table. The ~300-entry lookup (first action whose
    has_fields are present; event category/type/action lists; copy
    rules with .id/.name suffix by digit-ness) runs as ONE
    Arrow-batched pandas UDF over the kv map — the module_slowlog
    precedent for table semantics a CASE-WHEN chain would bloat.
    List-valued event fields land as JSON text (the engine's
    canonical nested form); copy targets become real columns, so the
    follow-up foreach-set over auditd.log.copy is intentionally left
    unmaterialized (it no-ops via ignore_missing)."""
    import json as _json

    from pyspark.sql import types as T

    params = _auditd_params()
    types_t, syscalls_t = params.get("types", {}), params.get("syscalls", {})
    targets = _auditd_copy_targets(params)

    schema = T.StructType(
        [T.StructField("ev_action", T.StringType()),
         T.StructField("ev_category", T.StringType()),
         T.StructField("ev_type", T.StringType())]
        + [T.StructField(f"c{i}", T.StringType())
           for i in range(len(targets))])

    @F.pandas_udf(schema)
    def ecs(log_map: pd.Series, flats: pd.Series) -> pd.DataFrame:
        rows = []
        for base0, flat0 in zip(log_map, flats):
            base = dict(base0) if base0 is not None else {}
            # grok-captured auditd.log.* live as flat columns — merge
            # them so has_fields / copy-from see the whole object
            for fk, fv in (dict(flat0) if flat0 is not None else {}).items():
                if fv is not None:
                    base.setdefault(fk, fv)
            rt = base.get("record_type")
            out = {"ev_action": None, "ev_category": None, "ev_type": None}
            copies: dict[str, str] = {}
            acts = types_t.get(rt) if rt is not None else None
            if acts is None and base.get("syscall") is not None:
                acts = syscalls_t.get(base["syscall"]) \
                    or syscalls_t.get("*")
            act_sel = None
            for a in acts or []:
                need = a.get("has_fields")
                if not need or all(base.get(f) is not None for f in need):
                    act_sel = a
                    break
            if act_sel is not None:
                ev = act_sel.get("event") or {}
                for k, v in ev.items():
                    out["ev_" + k] = _json.dumps(v)
                for rule in act_sel.get("copy") or []:
                    value = None
                    for src in rule["from"]:
                        value = base.get(src)
                        if value is not None:
                            break
                    if isinstance(value, str):
                        suffix = ".id" if value.isdigit() else ".name"
                        copies[rule["to"] + suffix] = value
            rows.append([out["ev_action"], out["ev_category"],
                         out["ev_type"]]
                        + [copies.get(t) for t in targets])
        return pd.DataFrame(
            rows, columns=["ev_action", "ev_category", "ev_type"]
            + [f"c{i}" for i in range(len(targets))])

    if "auditd.log" not in df.columns:
        return df
    flat_cols = [c for c in df.columns
                 if c.startswith("auditd.log.")
                 and str(df.schema[c].dataType) == "StringType()"]
    flats = F.map_from_arrays(
        F.array(*[F.lit(c[len("auditd.log."):]) for c in flat_cols]),
        F.array(*[_c(c) for c in flat_cols])) if flat_cols else \
        F.lit(None).cast("map<string,string>")
    res = ecs(_c("auditd.log"), flats)
    tmp = "_auditd_ecs"
    df = df.withColumn(tmp, res)
    assigns = {}
    for fldname, col in (("event.action", F.col(tmp)["ev_action"]),
                         ("event.category", F.col(tmp)["ev_category"]),
                         ("event.type", F.col(tmp)["ev_type"])):
        old = _c(fldname) if _has(df, fldname) else F.lit(None).cast("string")
        assigns[fldname] = F.when(
            F.coalesce(act, F.lit(False)) & col.isNotNull(), col
        ).otherwise(old)
    for i, t in enumerate(targets):
        col = F.col(tmp)[f"c{i}"]
        old = _c(t) if _has(df, t) else F.lit(None).cast("string")
        assigns[t] = F.when(
            F.coalesce(act, F.lit(False)) & col.isNotNull(), col
        ).otherwise(old)
    return df.withColumns(assigns).drop(tmp)


def _auditd_args_count(df: DataFrame, act: Column) -> DataFrame:
    """auditd/log script[58]: args_count = args.length when
    process.args is a list (post-split); non-list rows keep the argc
    rename from the step before."""
    from pyspark.sql import types as T

    if "process.args" not in df.columns:
        return df
    dt = df.schema["process.args"].dataType
    if not isinstance(dt, T.ArrayType):
        return df
    n = F.size(_c("process.args"))
    hit = act & _c("process.args").isNotNull()
    return assign_where(df, hit, {"process.args_count": n.cast("string")})


# (module, fileset) → {tag: handler}. Tags are the compiler's
# `script[<chain index>]` defaults for the module's pipeline as
# shipped; single-script pipelines use the bare 'script' fallback key.
MODULE_SCRIPT_HANDLERS: dict[tuple[str, str], dict] = {
    ("nginx", "access"): {"script": _nginx_pick_source_address},
    ("system", "auth"): {"script": _auth_categorize},
    ("apache", "access"): {"script": _apache_tls_split},
    # module/apache/error/ingest/pipeline.yml (script[7])
    ("apache", "error"): {"script": _error_level_type(
        ["emerg", "alert", "crit", "error", "warn"])},
    ("traefik", "access"): {"script": _traefik_duration},
    # module/postgresql/log/ingest/pipeline.yml (script[5])
    ("postgresql", "log"): {"script": _scale_duration("temp.duration", 1e6)},
    # module/mysql/slowlog/ingest/pipeline.json (script[3], script[4])
    ("mysql", "slowlog"): {
        "script[3]": _bool_map_fields(
            "mysql.slowlog",
            ["query_cache_hit", "tmp_table", "tmp_table_on_disk",
             "filesort", "filesort_on_disk", "priority_queue",
             "full_scan", "full_join"],
            {"Yes": True, "No": False}),
        "script[4]": _scale_duration("temp.duration", 1e6, post_mult=1000),
    },
    # module/kafka/log/ingest/pipeline.yml (script[10])
    ("kafka", "log"): {"script": _error_level_type(["ERROR", "FATAL"])},
    # module/redis/log/ingest/pipeline.yml (script[2], script[3])
    ("redis", "log"): {
        "script[2]": _map_values("log.level", {
            ".": "debug", "-": "verbose", "*": "notice", "#": "warning"}),
        "script[3]": _map_values("redis.log.role", {
            "M": "master", "S": "slave", "C": "child", "X": "sentinel"}),
    },
    # module/haproxy/log/ingest/pipeline.yml (script[13])
    ("haproxy", "log"): {"script": _scale_duration("temp.duration", 1e6)},
    # module/iis/access/ingest/pipeline.yml (script[6])
    ("iis", "access"): {"script": _scale_duration("temp.duration", 1e6)},
    # module/kibana/log/ingest/pipeline.yml (script[11], script[25])
    ("kibana", "log"): {
        "script[11]": _scale_duration("temp.duration", 1e6),
        "script[25]": _error_level_type(["red"], field="kibana.log.state"),
    },
    # module/elasticsearch/server/ingest/pipeline.yml (script[5], [8])
    ("elasticsearch", "server"): {
        "script[5]": _es_gc_durations,
        "script[8]": _error_level_type(["FATAL", "ERROR"]),
    },
    # module/elasticsearch/slowlog/ingest/pipeline.yml (script[6], [10])
    ("elasticsearch", "slowlog"): {
        "script[6]": _scale_duration("elasticsearch.slowlog.duration", 1e6),
        "script[10]": _error_level_type(["FATAL", "ERROR"]),
    },
    # module/elasticsearch/audit/ingest/pipeline.yml (script[8]) +
    # pipeline-plaintext.yml (script[3])
    ("elasticsearch", "audit"): {
        "script[8]": _es_audit_outcome,
        "script[3]": _es_audit_sub_action,
    },
    # module/logstash/log/ingest/pipeline-json.yml ([8], [10]) +
    # pipeline-plaintext.yml ([5])
    ("logstash", "log"): {
        "script[8]": _logstash_action_to_strings,
        "script[10]": _error_level_type(["ERROR", "FATAL"]),
        "script[5]": _error_level_type(["ERROR", "FATAL"]),
    },
    # module/logstash/slowlog/ingest/pipeline-json.yml ([12]) +
    # pipeline-plaintext.yml ([9])
    ("logstash", "slowlog"): {
        "script[12]": _error_level_type(["ERROR", "FATAL"]),
        "script[9]": _error_level_type(["ERROR", "FATAL"]),
    },
    # module/icinga/{main,debug}/ingest/pipeline.yml (script[5]),
    # startup (script[3]) — same warning/critical categorizer
    ("icinga", "main"): {
        "script": _error_level_type(["warning", "critical"])},
    ("icinga", "debug"): {
        "script": _error_level_type(["warning", "critical"])},
    ("icinga", "startup"): {
        "script": _error_level_type(["warning", "critical"])},
    # module/nats/log/ingest/pipeline.yml (script[9], [10], [11])
    ("nats", "log"): {
        "script[9]": _map_values("log.level", {
            "INF": "info", "DBG": "debug", "WRN": "warning",
            "ERR": "error", "FTL": "fatal", "TRC": "trace"}),
        "script[10]": _map_values("nats.log.msg.type", {
            "MSG": "message", "PUB": "publish", "SUB": "subscribe",
            "UNSUB": "unsubscribe", "MSG_PAYLOAD": "payload",
            "-ERROR": "error", "PING": "ping", "PONG": "pong",
            "OK": "acknowledge", "CONNECT": "connection",
            "INFO": "information"}),
        "script[11]": _map_values("network.direction", {
            "<<-": "inbound", "->>": "outbound"}),
    },
    # module/osquery/result/ingest/pipeline.json (script[3])
    ("osquery", "result"): {"script": _osquery_nest_result},
    # module/auditd/log/ingest/pipeline.yml ([8], [18], [58])
    ("auditd", "log"): {
        "script[8]": _auditd_normalize,
        "script[18]": _auditd_ecs,
        "script[58]": _auditd_args_count,
    },
    # module/nginx/ingress_controller/ingest/pipeline.yml ([11]..[15])
    ("nginx", "ingress_controller"): {
        "script[11]": _ingress_last_int(
            _ic("upstream.response.length_list"),
            _ic("upstream.response.length")),
        "script[12]": _ingress_sum_time,
        "script[13]": _ingress_last_int(
            _ic("upstream.response.status_code_list"),
            _ic("upstream.response.status_code")),
        "script[14]": _ingress_upstream_addr,
        "script[15]": _ingress_pick_source,
    },
}


def module_pipeline_path(module: str, fileset: str,
                         ref_root: str | None = None) -> str:
    d = os.path.join(ref_root or REFERENCE_MODULE_ROOT, module, fileset, "ingest")
    for name in ("pipeline.yml", "pipeline.json"):
        p = os.path.join(d, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no ingest pipeline for {module}/{fileset}")


def load_module_pipeline(module: str, fileset: str, *,
                         ref_root: str | None = None,
                         **kwargs) -> IngestPipeline:
    """Compile the reference's ingest pipeline for ``module/fileset``
    with this registry's translated script handlers wired in."""
    handlers = dict(MODULE_SCRIPT_HANDLERS.get((module, fileset), {}))
    handlers.update(kwargs.pop("script_handlers", {}) or {})
    return compile_ingest_pipeline(
        module_pipeline_path(module, fileset, ref_root),
        script_handlers=handlers or None, **kwargs)
