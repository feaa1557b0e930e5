"""The one resident-vs-distributed budget.

Every memory-bound regime switch in the engine — a driver collect or a
forced broadcast versus a shuffle join or the distributed CC — is decided
here, from measured sizes, against one budget: ``MAX_ROWS`` rows AND
``MAX_BYTES`` utf-8 bytes (a row cap alone admits multi-GB relations of long
strings). It sits far under Spark's 8 GB broadcast-relation cap, at a small
multiple of task memory.

``fits`` serves callers that measured the relation themselves; ``broadcast``
and ``collect`` probe it first. ``gate`` names the call site: the policy is
the same everywhere, and the name lets a test force one gate onto its
distributed path (the ``over_budget`` fixture in the repo-root conftest).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_ROWS = 2_000_000
MAX_BYTES = 256 * 1024 * 1024


@dataclass(frozen=True)
class Resident:
    """``df`` fit the budget; ``rows`` are its rows, on the driver."""

    rows: list
    df: DataFrame


@dataclass(frozen=True)
class Distributed:
    """``df`` is over budget and stays distributed."""

    df: DataFrame


def fits(gate: str, n: int, nbytes: int) -> bool:
    """May a relation of ``n`` rows and ``nbytes`` bytes be resident?"""
    return n <= MAX_ROWS and nbytes <= MAX_BYTES


def row_bytes(df: DataFrame) -> Column:
    """Encoded size of one row: utf-8 bytes per string column (octet_length,
    so multi-byte text can't undercount; null is 0), 8 per other column."""
    return sum(
        (
            F.coalesce(F.octet_length(f.name), F.lit(0))
            if isinstance(f.dataType, T.StringType)
            else F.lit(8)
            for f in df.schema.fields
        ),
        F.lit(0),
    )


def rows_nbytes(rows) -> int:
    """``row_bytes`` summed over rows already on the driver."""
    return sum(
        len(v.encode()) if isinstance(v, str) else 0 if v is None else 8
        for r in rows
        for v in r
    )


def bounded_stats(df: DataFrame) -> tuple[int, int]:
    """(rows, bytes) of ``df``, measured executor-side over a
    ``limit(MAX_ROWS + 1)`` slice: the limit bounds the work, and the
    aggregate keeps the probe off the driver (collecting cap+1 rows to
    measure them is itself the OOM the budget prevents). A count of
    ``MAX_ROWS + 1`` means over budget, true count unknown."""
    r = (
        df.limit(MAX_ROWS + 1)
        .agg(F.count(F.lit(1)), F.coalesce(F.sum(row_bytes(df)), F.lit(0)))
        .first()
    )
    return r[0], r[1]


def broadcast(gate: str, df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` within budget, else ``df``. F.broadcast forces the
    hash relation past autoBroadcastJoinThreshold, so the guard lives here."""
    return F.broadcast(df) if fits(gate, *bounded_stats(df)) else df


def collect(gate: str, df: DataFrame) -> Resident | Distributed:
    """``Resident`` with ``df``'s rows within budget, else ``Distributed``;
    an over-budget frame is never pulled onto the driver. A local relation
    (rows already on the driver) is measured in place: no Spark job runs."""
    if df.isLocal():
        rows = df.collect()
        n, nbytes = len(rows), rows_nbytes(rows)
    else:
        rows = None
        n, nbytes = bounded_stats(df)
    if not fits(gate, n, nbytes):
        return Distributed(df)
    return Resident(df.collect() if rows is None else rows, df)
