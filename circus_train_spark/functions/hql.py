"""HQL/SQL view-text table-name rewriting.

The reference replicates Hive VIEWs by rewriting the stored HQL so every
source ``db.table`` reference points at its replica counterpart
(``circus-train-hive-view/.../HqlTranslator.java:79-106``), substituting
four textual forms per mapping — unescaped qualified name, unescaped
``table.`` reference (which also rewrites column qualifiers), and the two
backtick-escaped variants (``TableTranslation.java:22-42``) — each
case-insensitively. ``translate_hql`` rewrites the same four forms and
passes the reference's own translator test vectors verbatim
(``HqlTranslatorTest.java:92-130``, mirrored in ``tests/test_views.py``),
but it rewrites all mappings in ONE pass on whole identifiers, where the
reference chains substring ``replaceAll`` calls: ``db.tok`` is never
rewritten inside ``db.tok2``, and a replacement is never re-scanned by a
later mapping.

It is pure driver-side string work over metadata (never row data), so
there is nothing to distribute; execution of a translated view is plain
``spark.sql`` over temp-view bindings (``operators/views.py``).
"""

from __future__ import annotations

import re

__all__ = ["translate_hql"]


def _edges(form: str) -> str:
    # a form that starts/ends with an identifier character must not touch
    # another one there: whole identifiers only
    head = r"(?<!\w)" if re.match(r"\w", form) else ""
    tail = r"(?!\w)" if re.match(r"\w", form[-1]) else ""
    return head + re.escape(form) + tail


def translate_hql(
    hql: str,
    mappings: dict[str, str],
    *,
    require_qualified: bool = True,
) -> str:
    """Rewrite every mapped table reference in ``hql``.

    ``mappings`` maps ``"src_db.src_table" -> "dst_db.dst_table"``. Both
    sides must be two-part qualified names (the reference raises on
    anything else, ``HqlTranslator.java:47-55``); ``require_qualified=False``
    allows a single-part destination — ``bind_sql`` uses it to bind
    qualified names onto Spark temp views, which are single-part.
    """
    forms: dict[str, str] = {}  # lower-cased form -> replacement
    for src, dst in mappings.items():
        s = src.split(".")
        d = dst.split(".")
        if len(s) != 2 or not all(s):
            raise ValueError(f"original table name must be qualified: {src!r}")
        if require_qualified and len(d) != 2:
            raise ValueError(f"translated table name must be qualified: {dst!r}")
        if len(d) not in (1, 2) or not all(d):
            raise ValueError(f"bad translated table name: {dst!r}")
        sdb, stbl = s
        dtbl = d[-1]
        dst_escaped = ".".join(f"`{part}`" for part in d)
        # the reference's four forms, in its order; an earlier mapping wins
        # a form two mappings share, as in the reference's replace chain
        for form, repl in (
            (f"{sdb}.{stbl}", dst),
            (f"{stbl}.", f"{dtbl}."),
            (f"`{sdb}`.`{stbl}`", dst_escaped),
            (f"`{stbl}`.", f"`{dtbl}`."),
        ):
            forms.setdefault(form.lower(), repl)
    if not forms:
        return hql
    # longest first, so ``db.t`` wins over a ``db.`` form at the same offset
    ordered = sorted(forms, key=len, reverse=True)
    pattern = re.compile(
        "|".join(f"({_edges(f)})" for f in ordered), flags=re.IGNORECASE
    )
    # the matching group names the form; a callable keeps names inert
    return pattern.sub(lambda m: forms[ordered[m.lastindex - 1]], hql)
