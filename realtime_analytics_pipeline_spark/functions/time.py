"""Timestamp coercion helpers (SURVEY §2 P9).

The reference coerces loosely-typed timestamps at the cache boundary
(services/cache/src/infrastructure/kafka/message_parser.py:51-63,
``_coerce_ts``): an int passes through as epoch-ms; an ISO-8601 string
(``Z`` normalized to ``+00:00``) parses via ``datetime.fromisoformat``
to epoch-ms; anything else logs and yields None. This module is the
Column-expression equivalent — one pass, no UDF, null on failure —
so dirty mixed-typed feeds coerce at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def coerce_ts_ms(col: Column | str) -> Column:
    """STRING-or-INT timestamp -> epoch-ms BIGINT (null if neither).

    - digit strings of plausible epoch-ms width (10-19 digits — longs
      arriving as strings after a homogeneous-column cast) are epoch-ms
      already — the int branch of _coerce_ts. ``try_cast`` + the width
      guard keep ANSI mode from throwing on absurd digit runs (a bare
      ``cast('bigint')`` on a 20-digit string crashes the job under
      Spark 4's default ANSI semantics — exactly the dirty-feed input
      this helper promises to null out);
    - 8-digit strings parse as compact ISO dates (``yyyyMMdd``) — the
      py3.11+ ``datetime.fromisoformat`` in the reference accepts the
      basic-format calendar date, and an 8-digit value read as epoch-ms
      would be a nonsense 1970 instant anyway;
    - otherwise try ISO-8601: ``try_to_timestamp`` after the ``Z`` →
      ``+00:00`` normalization the reference applies, fractional
      seconds included;
    - unparseable → null (the reference logs-and-drops).

    DELIBERATE DIVERGENCE (documented, parity-test-pinned): the
    reference's ``_coerce_ts`` only int-passes values that are already
    Python ints — a *string* of bare digits hits ``fromisoformat`` and
    returns None. This helper instead accepts 10-19-digit strings as
    epoch-ms, because a Spark column is homogeneously typed: a bigint
    epoch column that traversed a string cast (CSV, type-erased JSON)
    arrives as digit strings, and nulling the whole column would drop
    every row of a valid feed. The cost is that a 10-digit
    epoch-*seconds* string is read as epoch-ms (a 1970 instant) where
    the reference yields None. Wire data is 13-digit epoch-ms, so the
    gated oracles are unaffected; the 10-digit case is pinned in
    tests/test_sql_features.py::test_coerce_ts_ms_matches_reference_coercion.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    as_int = F.when(s.rlike(r"^\d{10,19}$"), s.try_cast("bigint"))
    compact_date = F.when(
        s.rlike(r"^\d{8}$"),
        F.unix_millis(F.try_to_timestamp(s, F.lit("yyyyMMdd"))),
    )
    iso = F.unix_millis(
        F.try_to_timestamp(F.regexp_replace(s, r"Z$", "+00:00"))
    )
    return F.coalesce(as_int, compact_date, iso).cast("bigint")
