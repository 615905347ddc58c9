"""JVM-local dimension tables from driver-side rows.

``spark.createDataFrame(rows)`` builds a PYTHON-RDD-backed plan: every
materialization (each broadcast build, each checkpoint, each collect) runs
``defaultParallelism`` tasks that each round-trip a Python worker —
measured ~150 ms per task, i.e. several seconds of pure overhead per query
for a 40-row gazetteer on local[32]. ``coalesce(1)`` is WORSE: the single
task pays all 32 Python-worker round-trips serially (interleaved A/B:
6.0 s vs 1.8 s on the negatives query).

``local_dim`` instead renders the rows as a SQL ``VALUES`` clause, which
parses straight to a ``LocalTableScan``: zero tasks, zero Python workers,
and broadcast builds read it driver-side. Intended for dim-sized data only
(gazetteers, label maps, fixture tables); the SQL text grows linearly with
the rows, so callers should stay under a few thousand rows.

``local_map`` renders a driver-held lookup the same way, as one literal
``CAST(map(...) AS MAP<K, V>)`` built in one JVM call. Strings render as
UTF-8 hex literals, exact whatever ``spark.sql.parser.escapedStringLiterals``
says.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_SQL_TYPES = {"string", "int", "bigint", "double", "float", "boolean"}


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        import math

        # inline the cast so the VALUES column stays uniformly numeric
        # (a bare 'NaN' string cell makes the inline table type-incompatible)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            sign = "" if v > 0 else "-"
            return f"CAST('{sign}Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, list):
        return "ARRAY(" + ", ".join(_lit(x) for x in v) + ")"
    raise TypeError(f"local_dim cell type not supported: {type(v)!r}")


def local_dim(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """DataFrame over driver-side rows as a pure-JVM LocalRelation.

    ``schema`` is a DDL string like ``"surface string, entity_id string"``;
    every cell is CAST to the declared type, so int/bigint and float/double
    distinctions are exact. A column may also be an array of one of those
    types (``"dep_heads array<int>"``), its cells Python lists. Rows may be
    tuples or single values (1-column).
    """
    fields = []
    for part in schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        typ = typ.lower()
        elem = typ[6:-1] if typ.startswith("array<") and typ.endswith(">") else typ
        if elem not in _SQL_TYPES:
            raise ValueError(f"local_dim type not supported: {typ}")
        fields.append((name.strip().strip("`"), typ))
    ncol = len(fields)
    select = ", ".join(
        f"CAST(c{i} AS {typ.upper()}) AS `{name}`"
        for i, (name, typ) in enumerate(fields)
    )
    colnames = ", ".join(f"c{i}" for i in range(ncol))
    if not rows:
        nulls = ", ".join("NULL" for _ in range(ncol))
        return spark.sql(
            f"SELECT {select} FROM (VALUES ({nulls})) AS t({colnames}) WHERE 1 = 0"
        )
    tuples = []
    for row in rows:
        if not isinstance(row, (tuple, list)):
            row = (row,)
        if len(row) != ncol:
            raise ValueError(f"row arity {len(row)} != schema arity {ncol}")
        tuples.append("(" + ", ".join(_lit(v) for v in row) + ")")
    return spark.sql(
        f"SELECT {select} FROM (VALUES {', '.join(tuples)}) AS t({colnames})"
    )


def local_map(pairs: dict, key_type: str, value_type: str) -> Column:
    """Literal ``MAP<key_type, value_type>`` column over a driver-side
    ``{key: value}`` dict (no None key), its cells rendered as in
    ``local_dim``; an empty dict gives a typed empty map. Dim-sized
    lookups only: the map is one SQL literal."""
    cells = ", ".join(f"{_lit(k)}, {_lit(v)}" for k, v in pairs.items())
    return F.expr(f"CAST(map({cells}) AS MAP<{key_type}, {value_type}>)")
