"""Local oracle-diff harness mirroring the driver's correctness gate.

Runs a registered query on Spark and its oracle SQL on DuckDB over the same
parquet directory, canonicalizes both results (columns sorted by name, rows
order-insensitive, values normalized), and reports an exact comparison.

Dtype-faithful by construction (round-1 lesson): both sides are fetched as
Arrow tables — never pandas — so SQL NULL stays None (not NaN), integers
stay integers, and floats stay floats. Every cell is normalized to a
*kind-tagged* token: an int64 `5` and a float64 `5.0` canonicalize to
different tokens and can never compare equal, which is exactly the
distinction the driver's value hash makes (DuckDB HUGEINT aggregates that
surface as float64 caused 6 driver hash-fails in round 1 while the old
numeric-equality comparator passed them locally).

Decimal policy (r14/q35 lesson): Spark outputs must never contain
DecimalType (compare_query flags it), and oracle SQL must cast decimal
literals to DOUBLE (DuckDB types bare list/decimal literals as DECIMAL —
q272's unnest([0.5, …]) rendered '0.50' and tripped the strict comparator).
The driver's own DuckDB→pandas path collapses oracle-side decimals to
float64, so the strict-on-both-sides rule here is never weaker than the
driver; on the Spark side it is exactly the driver's rendering.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from decimal import Decimal

import duckdb

from kinesis_customer_sample_spark.catalog import TABLES
from kinesis_customer_sample_spark.registry import Query
from kinesis_customer_sample_spark.scope import query_scope


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the fixture tables registered as views."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_value(v):
    """Normalize one cell to a kind-tagged, engine-neutral token.

    Kinds: None (SQL NULL), b=bool, i=integer (width-collapsed), f=binary
    float (repr-canonical, NaN sentinel, -0.0 collapsed), s=str, y=bytes,
    t=temporal ISO string, plus recursive tuples for lists/structs/maps.
    A float NEVER equals an int of the same magnitude — that is the point.

    Decimal is rendered scale-preserving (``format(v, "f")`` keeps trailing
    zeros: Decimal('381126.20') → "381126.20") under the 'f' kind, mirroring
    the driver's canonical value rendering exactly. The r14 lesson (q35):
    the old ``float(v)`` collapse made Decimal('381126.20') equal float
    381126.2 locally while the driver's hash — which renders the scale —
    failed it. Eleven rounds of 514/514 local sweeps were blind to the class;
    this rendering makes the local gate at least as strict as the driver's.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        if v == 0.0:  # collapse -0.0 vs 0.0
            return ("f", "0.0")
        return ("f", repr(v))
    if isinstance(v, Decimal):
        if v.is_nan():
            return ("f", "NaN")
        # scale-preserving, non-exponent rendering — '381126.20' stays
        # '381126.20' and can only equal a float that renders identically
        return ("f", format(v, "f"))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, datetime):
        # driver parity: pandas-based harnesses localize tz-aware Spark
        # timestamps to naive session time (session tz is UTC here) — do
        # the same so a session-TZ timestamp vs a naive one compares equal
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, date):
        # driver parity: pandas widens DATE to midnight datetime64
        return ("t", datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return ("?", repr(v))


def _decimal_columns(schema) -> list[str]:
    """Names of top-level columns whose type contains a decimal anywhere.

    Policy guard (r14/q35): no registry query may EMIT DecimalType from the
    Spark side — Spark renders the scale ('381126.20') while DuckDB's DOUBLE
    doesn't ('381126.2'), so even cent-identical values fail the driver hash.
    Queries must cast fixed-point results to DOUBLE (or keep floor-µ BIGINTs).
    """
    # Arrow renders nested types with their children ('list<item: decimal128
    # (24, 2)>'), so a string scan covers arbitrary nesting without walking
    # every container type by hand.
    return [f.name for f in schema if "decimal" in str(f.type)]


def _arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    """Arrow table → (sorted column names, canonical sorted row tuples).

    Arrow (unlike pandas) keeps NULL distinct from NaN and never widens
    int columns to float, so what we compare is what each engine computed.
    """
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    pylist = tbl.to_pylist()  # native python: int/float/None/str/list/dict
    rows = [tuple(_norm_value(rec[c]) for c in cols) for rec in pylist]
    rows.sort(key=lambda r: tuple(repr(x) for x in r))
    return cols, rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def report(self) -> str:
        status = "OK" if self.ok else "FAIL"
        lines = [f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows} rows"]
        lines += [f"    {m}" for m in self.mismatches[:10]]
        return "\n".join(lines)


def compare_query(spark, q: Query, sf_dir: str, con=None) -> CompareResult:
    """Run q.fn (one query scope) and q.oracle; exact-compare canonical rows."""
    if q.oracle is None:
        raise ValueError(f"{q.name} has no oracle SQL (rows-only query)")
    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        with query_scope(spark):
            spark_tbl = q.fn(spark, sf_dir).toArrow()
        duck_tbl = con.execute(q.oracle).arrow()
    finally:
        if own_con:
            con.close()

    s_cols, s_rows = _arrow_rows(spark_tbl)
    d_cols, d_rows = _arrow_rows(duck_tbl)
    res = CompareResult(q.name, True, len(s_rows), len(d_rows))

    dec_cols = _decimal_columns(spark_tbl.schema)
    if dec_cols:
        res.ok = False
        res.mismatches.append(
            f"spark output emits DecimalType column(s) {dec_cols} — banned "
            "(r14/q35 class): cast to DOUBLE or emit floor-µ BIGINT"
        )

    if s_cols != d_cols:
        res.ok = False
        res.mismatches.append(f"schema: spark={s_cols} oracle={d_cols}")
        return res
    if len(s_rows) != len(d_rows):
        res.ok = False
        res.mismatches.append("row count differs")
    n_diff = 0
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            n_diff += 1
            if n_diff <= 5:
                res.mismatches.append(f"row {i}: spark={a!r} oracle={b!r}")
    if n_diff:
        res.ok = False
        res.mismatches.append(f"{n_diff} differing rows (of {min(len(s_rows), len(d_rows))})")
    return res
