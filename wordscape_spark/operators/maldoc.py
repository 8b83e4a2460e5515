"""Malicious-document gate (B3 analog).

Reference: oletools OleID indicators with a fatal set {appname, codepage,
encrypted, ext_rels, ObjectPool, vba, xlm, flash} above INFO risk
(/root/reference/app/src/data_sources/maldoc_check.py:13-29, 56-120).

No oletools in the sandbox; the operator keeps the exact shape — an
Arrow-batched scan of the binary column emitting a boolean indicator struct
plus a reject decision — with deterministic byte-pattern indicators standing
in for OleID by default.  ``maldoc_check(indicators=…, indicator_names=…)``
is the injection seam: pass ``adapters.oleid_indicators()`` (import-guarded,
real oletools OleID) on a cluster that has the dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from wordscape_spark.sources.ingest import map_rows

# indicator name -> byte pattern (deterministic OleID surrogate)
_INDICATORS = {
    "vba": b"\x56\x42\x41",        # 'VBA'
    "encrypted": b"\x45\x4e\x43",  # 'ENC'
    "ext_rels": b"\x52\x45\x4c",   # 'REL'
    "flash": b"\x46\x57\x53",      # 'FWS' (swf magic)
}


def surrogate_indicators(content: bytes) -> "dict[str, bool]":
    """Default indicator backend: deterministic byte-pattern OleID stand-in."""
    return {k: pat in content for k, pat in _INDICATORS.items()}


def maldoc_schema(names: "list[str]") -> StructType:
    return StructType(
        [
            StructField("doc_id", StringType()),
            StructField("media_ref", StringType()),
            *[StructField(f"ind_{k}", BooleanType()) for k in names],
            StructField("malicious", BooleanType()),
        ]
    )


def maldoc_check(
    media: DataFrame,
    indicators=None,
    indicator_names: "list[str] | None" = None,
    fatal: "frozenset[str] | None" = None,
) -> DataFrame:
    """(doc_id, media_ref, ind_*, malicious) over a binary ``content`` col.

    ``indicators`` is the injection seam: a picklable
    ``bytes -> dict[name, bool]`` callable (default: the byte-pattern
    surrogate; real cluster: ``adapters.oleid_indicators()``).  When
    injecting, ``indicator_names`` must list the dict keys the backend
    emits (the output schema is derived from it, sorted); ``fatal``
    defaults to all of them — ``malicious`` = any fatal indicator raised.
    """
    if indicators is None:
        indicators = surrogate_indicators
        names = sorted(_INDICATORS)
    else:
        if indicator_names is None:
            raise ValueError(
                "maldoc_check(indicators=...) requires indicator_names "
                "(the keys the backend emits) to derive the output schema"
            )
        names = sorted(indicator_names)
    fatal_set = frozenset(fatal) if fatal is not None else frozenset(names)

    def scan(rows):
        out = []
        for doc_id, ref, content in rows:
            inds = indicators(content or b"")  # NULL reads as b""
            out.append((
                doc_id,
                ref,
                *(bool(inds.get(k, False)) for k in names),
                any(bool(inds.get(k, False)) for k in fatal_set),
            ))
        return out

    return map_rows(
        media.select("doc_id", "media_ref", "content"), scan,
        maldoc_schema(names),
    )
