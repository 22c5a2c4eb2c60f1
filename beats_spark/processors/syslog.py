"""RFC-3164 syslog line parser, Spark-first.

Re-expresses the reference's ragel syslog parser + event mapping
(``filebeat/input/syslog/parser.rl``, ``event.go:25-26,224-238``,
``input.go:49-85,181-233``) as ONE anchored regex evaluated once per
row (``dissect.captures``).

Output columns (flat analogues of the reference's nested fields):

- ``syslog_priority`` int, ``event_severity`` = pri & 7,
  ``syslog_facility`` = pri >> 3, with the reference's
  ``severity_label`` / ``facility_label`` name tables.
- ``hostname``, ``process_program``, ``process_pid``.
- ``syslog_ts`` — RFC-3164 timestamps carry no year; the parse
  supplies ``assume_year`` (the reference applies the host clock's
  year the same way).
- ``syslog_message`` — the message tail, trailing ``\\n`` or ``\\r\\n`` trimmed.

Unparseable rows keep the raw line and null syslog fields (the
reference logs "can't parse event as syslog rfc3164" and forwards the
raw message, ``input.go:239``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import assign_where
from beats_spark.dissect import captures

SEVERITY_LABELS = [
    "Emergency", "Alert", "Critical", "Error",
    "Warning", "Notice", "Informational", "Debug",
]

FACILITY_LABELS = [
    "kernel", "user-level", "mail", "system", "security/authorization",
    "syslogd", "line printer", "network news", "UUCP", "clock",
    "security/authorization", "FTP", "NTP", "log audit", "log alert",
    "clock", "local0", "local1", "local2", "local3", "local4", "local5",
    "local6", "local7",
]

# <PRI>MMM [d]d HH:MM:SS HOST [PROGRAM][[PID]]: MESSAGE
_RFC3164 = (
    r"(?s)^(?:<(\d{1,3})>)?"
    r"([A-Z][a-z]{2}\s{1,2}\d{1,2} \d{2}:\d{2}:\d{2}) "
    r"(\S+) "
    r"(?:([^:\[\s]+)(?:\[(\d+)\])?: ?)?"
    r"(.*?)(?:\r?\n)?\z"
)


def _label(idx: Column, labels: list[str]) -> Column:
    arr = F.array(*[F.lit(x) for x in labels])
    return F.when(
        (idx >= 0) & (idx < len(labels)), F.element_at(arr, idx.cast("int") + 1)
    )


def syslog_rfc3164(
    df: DataFrame,
    field: str = "message",
    assume_year: int = 2026,
    keep_raw: bool = True,
    active: Column | None = None,
) -> DataFrame:
    """Parse ``df[field]`` as RFC-3164 syslog lines (see module doc);
    rows outside the mask ``active`` keep every field."""
    src = F.col(field)
    df, ok, group = captures(df, "_sl_parts", src, _RFC3164, 6, active)
    # an empty capture is an absent optional part
    grp = {g: F.when(group(g) != "", group(g)) for g in range(1, 7)}

    # the reference validates priority <= 191 (severity 0-7 × facility
    # 0-23) and treats the whole line as unparseable otherwise
    # (parser.rl priority machine); <999> must not parse as pri=999
    pri0 = grp[1].try_cast("int")
    ok = ok & (pri0.isNull() | (pri0 <= 191))
    pri = F.when(ok, pri0)
    ts = F.when(
        ok,
        F.to_timestamp(
            F.concat(F.lit(f"{assume_year} "),
                     F.regexp_replace(grp[2], r"\s+", " ")),
            "yyyy MMM d HH:mm:ss",
        ),
    )
    sev = pri.bitwiseAND(F.lit(7))
    fac = F.shiftright(pri, 3)
    out = {
        "syslog_priority": pri,
        "event_severity": sev,
        "syslog_severity_label": _label(sev, SEVERITY_LABELS),
        "syslog_facility": fac,
        "syslog_facility_label": _label(fac, FACILITY_LABELS),
        "syslog_ts": ts,
        "hostname": F.when(ok, grp[3]),
        "process_program": F.when(ok, grp[4]),
        "process_pid": F.when(ok, grp[5].try_cast("int")),
        "syslog_message": F.when(ok, F.rtrim(grp[6])).otherwise(
            src if keep_raw else F.lit(None)
        ),
    }
    return assign_where(df, active, out).drop("_sl_parts")


from beats_spark.processors.base import Proc, register  # noqa: E402


@register("syslog")
class Syslog(Proc):
    """Registry face of :func:`syslog_rfc3164` (config name matches the
    reference input's ``type: syslog``)."""

    def __init__(self, field: str = "message", assume_year: int = 2026,
                 keep_raw: bool = True):
        self.kwargs = dict(field=field, assume_year=assume_year, keep_raw=keep_raw)

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return syslog_rfc3164(df, active=active, **self.kwargs)
