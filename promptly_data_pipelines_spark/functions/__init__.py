"""Semantic-parity column helpers — the Trino-dialect shims from
SURVEY.md §4, each one small, named, and unit-tested.

The reference's only nontrivial scalar semantics live in
dbt/promptly/models/curated/curated_provider.sql:12-54 (Trino
``json_query`` + quote-stripping regex + casts) and
dbt/promptly/models/raw/raw_provider_postgres.sql:17-20 (JSON path
extraction, ``date_format`` with MySQL-style codes). These helpers
re-provide those semantics on Spark built-ins (JVM-side, codegen'd —
no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    """Accept a name or a Column — the coercion every helper repeats."""
    return F.col(col) if isinstance(col, str) else col


def json_str(col: Column | str, path: str) -> Column:
    """JSON path → unquoted string scalar.

    Trino ``json_query(x, 'lax $.a.b')`` returns raw JSON text *with*
    surrounding quotes, which is why the reference wraps every extract
    in ``regexp_replace(x, '^"|"$', '')``
    (curated_provider.sql:21-51). Spark's ``get_json_object`` already
    unquotes scalars, so this helper is the whole shim: one call site
    to keep that knowledge in.
    """
    c = _as_col(col)
    return F.get_json_object(c, path)


def json_int(col: Column | str, path: str) -> Column:
    """JSON path → int, the ``CAST(json_query(...) AS integer)`` pattern
    of curated_provider.sql:14-20. Non-numeric text → null (Spark ANSI-off
    cast parity with Trino try-cast behavior used by the models)."""
    return json_str(col, path).cast("int")


def strip_quotes(col: Column | str) -> Column:
    """The reference's quote-stripping regex, verbatim semantics:
    ``regexp_replace(x, '^"|"$', '')`` (curated_provider.sql:21-27)."""
    c = _as_col(col)
    return F.regexp_replace(c, '^"|"$', "")


def date_key(ts: Column | str, fmt: str = "yyyy-MM-dd") -> Column:
    """Derive the ingestion-date partition key. Trino uses MySQL-style
    ``date_format(ts, '%Y-%m-%d')`` (raw_provider_postgres.sql:19);
    Spark's dialect is ``yyyy-MM-dd`` — same output, different codes."""
    c = _as_col(ts)
    return F.date_format(c, fmt)


def nullify_literal(col: Column | str, literal: str = "NULL") -> Column:
    """Bad-data case: the client CSV contains the *string* ``'NULL'``
    (reference promptly/adapters/data/minio/sample.csv lines 6,9;
    required handling per CHALLENGE.md:75). ``nullif`` semantics."""
    c = _as_col(col)
    return F.when(c == F.lit(literal), F.lit(None)).otherwise(c)


def map_values(col: Column | str, mapping: dict, default=None) -> Column:
    """Value-map normalization as one CASE chain (P11 — the reference's
    specialty/category recodes, curated_provider.sql:21-47). ONE
    builder for every call site: reference_pipeline, case_when_map and
    the flagship projection previously hand-rolled identical loops."""
    if not mapping:
        # an empty CASE chain has no Column to return — None would
        # surface later as an opaque AttributeError at the call site
        raise ValueError("map_values requires a non-empty mapping")
    c = _as_col(col)
    out = None
    for k, v in mapping.items():
        out = F.when(c == k, v) if out is None else out.when(c == k, v)
    return out.otherwise(default) if default is not None else out


def varchar_n(col: Column | str, n: int) -> Column:
    """Trino ``CAST(x AS varchar(n))`` silently truncates
    (curated_provider.sql:28-37 casts specialty to varchar(10) — a
    latent data bug the reference ships). Spark never truncates on
    cast; use this only where byte-for-byte parity with the reference
    is demanded, and say so at the call site."""
    c = _as_col(col)
    return F.substring(c, 1, n)


def ts_str(col: Column | str) -> Column:
    """Deterministic microsecond-precision timestamp rendering used by
    oracle-checked queries (DuckDB side: strftime '%Y-%m-%d %H:%M:%S.%f')."""
    c = _as_col(col)
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
