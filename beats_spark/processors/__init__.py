"""Processor framework + registry.

A processor is a ``(DataFrame, active) → DataFrame`` transform built
from a Beats-shaped config dict. The registry maps the config key (the
processor name, mirroring ``libbeat/processors/registry.go:54``) to a
factory. Every processor supports a ``when:`` guard
(``libbeat/processors/conditionals.go:59-111``), compiled to one
per-row mask: guarded assignments wrap each value in ``CASE WHEN``
(rows outside the mask keep their old value), guarded filters only drop
rows inside it, and guarded lookup joins null the join key outside it.
"""

from beats_spark.processors.base import (
    Proc,
    Project,
    REGISTRY,
    register,
    build_processor,
)
from beats_spark.processors import actions as _actions  # noqa: F401  (registers)
from beats_spark.processors import parsers as _parsers  # noqa: F401
from beats_spark.processors import enrich as _enrich  # noqa: F401
from beats_spark.processors import syslog as _syslog  # noqa: F401
from beats_spark.processors import grok as _grok  # noqa: F401
from beats_spark.processors import cef as _cef  # noqa: F401
from beats_spark import ingest as _ingest  # noqa: F401  (registers ingest_pipeline)

__all__ = [
    "Proc",
    "Project",
    "REGISTRY",
    "register",
    "build_processor",
]
