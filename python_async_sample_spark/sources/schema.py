"""Schema discovery & reconciliation — the reference's `column_state` analog.

Reference: the ETL discovers target columns from ``information_schema``
(``dbs/nikon.py:57-73``), upper-cases them (``nikon_ETL.py:210-212``), then
reconciles each source batch against the target schema
(``nikon_ETL.py:157-168``): extra source columns are dropped
(``nikon_ETL.py:194-204``); missing source columns abort the batch.

Here schemas are ``StructType`` values and reconciliation is a single
``select`` — column pruning the optimizer pushes into the scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog existence gate (S4: ``SELECT count(1) FROM pg_class WHERE
    relname = :t``, ``dbs/nikon.py:39-55``) — work is skipped, not failed,
    when a per-tool table is absent."""
    return spark.catalog.tableExists(name)


def table_columns(spark: SparkSession, name: str) -> list[str]:
    """Column discovery (S5: ``information_schema.columns`` probe,
    ``dbs/nikon.py:57-73``); the reference upper-cases for comparison —
    callers here compare via :func:`column_state`, case-insensitively."""
    return spark.table(name).schema.fieldNames()


def discover_tables(spark: SparkSession, like_pattern: str) -> list[str]:
    """Catalog-derived table list with SQL-LIKE semantics (J4: the tool list
    is ``upper(substr(relname, 1, 8))`` of tables LIKE 'tlcd__01_rawdata',
    ``dbs/nikon.py:91-96``) — the set of participating pipelines is *data*
    read from the catalog, never configuration."""
    rx = re.compile(
        "^"
        + "".join(
            ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
            for ch in like_pattern
        )
        + "$"
    )
    return sorted(t.name for t in spark.catalog.listTables() if rx.match(t.name))


class BatchAbort(Exception):
    """Source is missing columns the target requires (reference behavior:
    ``ret: False`` when ``del_cols`` non-empty, ``nikon_ETL.py:166``)."""


@dataclass(frozen=True)
class ColumnState:
    add_cols: tuple[str, ...]  # present in source, absent in target → dropped
    del_cols: tuple[str, ...]  # required by target, absent in source → abort
    ok: bool


def column_state(source: StructType, target: StructType) -> ColumnState:
    """Diff two schemas case-insensitively (the reference upper-cases both
    sides before comparing)."""
    src = {f.name.lower() for f in source.fields}
    tgt = {f.name.lower() for f in target.fields}
    add = tuple(sorted(src - tgt))
    dele = tuple(sorted(tgt - src))
    return ColumnState(add_cols=add, del_cols=dele, ok=not dele)


def reconcile(df: DataFrame, target: StructType) -> DataFrame:
    """Project/cast a source batch onto the target schema.

    Extra source columns are dropped; missing ones raise :class:`BatchAbort`.
    Types are cast to the target's (the reference stores measurements as text
    and casts client-side, ``R/tlcd_nikonrot.R:131`` — here the cast happens
    in the plan, JVM-side). A column already of the target type is not
    cast, and columns are bound to ``df`` (``df[name]``) rather than built
    with ``F.col``: each ``Column`` call is a py4j round trip or more, and a
    catch-up reconciles once per stage run.
    """
    state = column_state(df.schema, target)
    if not state.ok:
        raise BatchAbort(f"source missing target columns: {list(state.del_cols)}")
    by_lower = {f.name.lower(): f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        src = by_lower[f.name.lower()]
        col = df["`" + src.name.replace("`", "``") + "`"]
        if src.dataType != f.dataType:
            col = col.cast(f.dataType)
        cols.append(col if src.name == f.name else col.alias(f.name))
    return df.select(*cols)
