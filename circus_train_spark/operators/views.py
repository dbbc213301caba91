"""View execution and replication-time HQL translation.

The reference replicates Hive VIEWs as metadata objects: the view's stored
HQL is rewritten so every mapped source ``db.table`` reference points at
its replica counterpart, then the rewritten view is validated against the
replica catalog — every table it references must resolve there — before
the replica view is written (``circus-train-hive-view/.../
ViewTransformation.java:65-105``, validation via ``TableProcessor``'s
TOK_TABNAME walk). This module is that pipeline for token tables:

- views are stored SQL text in snapshot summaries
  (``TokenTable.create_view``), carried forward like schema/artifacts;
- ``run_view`` executes one by binding qualified table names to Spark temp
  views (single-part by definition, hence the ``require_qualified=False``
  rewrite) and handing the bound text to ``spark.sql`` — Catalyst is the
  parser/analyzer, so an unresolvable reference raises exactly where the
  reference's TableProcessor validation would;
- ``translate_views`` is the ViewTransformation analogue used by
  ``replicate``: translate every view's text through the table mappings
  and (optionally) validate by analysis against replica bindings.

All of it is driver-side metadata string work; the only distributed object
is the DataFrame a bound view produces.
"""

from __future__ import annotations

import re
from typing import Mapping

from pyspark.sql import DataFrame

from circus_train_spark.functions.hql import translate_hql
from circus_train_spark.meta.catalog import TokenTable

__all__ = ["run_view", "translate_views", "bind_sql"]


def _temp_name(qualified: str, i: int) -> str:
    return f"cts_view_bind_{i}_" + re.sub(r"[^A-Za-z0-9_]", "_", qualified)


def bind_sql(
    hql: str, bindings: Mapping[str, "TokenTable | DataFrame"]
) -> tuple[str, "DataFrame | None"]:
    """Register each binding as a temp view and rewrite ``hql`` onto the
    temp names. Returns (bound_sql, any_bound_df) — the DataFrame is only
    used to reach the SparkSession."""
    temp_names = {}
    any_df = None
    for i, (qualified, src) in enumerate(sorted(bindings.items())):
        df = src.scan() if isinstance(src, TokenTable) else src
        tv = _temp_name(qualified, i)
        df.createOrReplaceTempView(tv)
        temp_names[qualified] = tv
        any_df = df
    return translate_hql(hql, temp_names, require_qualified=False), any_df


def run_view(
    table: TokenTable,
    name: str,
    bindings: Mapping[str, "TokenTable | DataFrame"] | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Execute a stored view. ``bindings`` maps the qualified table names
    the view text uses (e.g. ``"db.tokens"``) to the TokenTable (scanned at
    its current snapshot) or DataFrame to read; defaults to nothing bound,
    which is fine for views over already-registered session tables."""
    views = table.views(snapshot_id)
    if name not in views:
        raise KeyError(f"no such view: {name}")
    bound, _ = bind_sql(views[name], bindings or {})
    return table.spark.sql(bound)


def translate_views(
    source: TokenTable,
    table_mappings: Mapping[str, str] | None = None,
    snapshot_id: int | None = None,
    validate_bindings: Mapping[str, "TokenTable | DataFrame"] | None = None,
) -> dict[str, str]:
    """Translate every stored view's text for a replica: each
    ``src_db.src_table -> dst_db.dst_table`` mapping is substituted through
    the four reference forms (``HqlTranslator.java:89-104``). With
    ``validate_bindings``, each translated text is bound and analyzed —
    ``spark.sql`` raises on any reference that does not resolve, the
    ``ViewTransformation.validateReferencedTables`` analogue."""
    out = {
        n: translate_hql(text, dict(table_mappings or {}))
        for n, text in source.views(snapshot_id).items()
    }
    if validate_bindings is not None:
        for n, text in out.items():
            bound, _ = bind_sql(text, validate_bindings)
            source.spark.sql(bound)  # analysis raises on unresolved refs
    return out
