"""View storage, execution, and replication-time HQL translation.

Parity target: circus-train-hive-view — HqlTranslator.java:79-106 (the
four-form case-insensitive rewrite; the golden vectors below are the
reference's own translator test statements, HqlTranslatorTest.java:41-130)
and ViewTransformation.java:65-105 (views travel with replication, text
rewritten, referenced tables validated against the replica).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from circus_train_spark.functions.hql import translate_hql
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.replicate import replicate
from circus_train_spark.operators.views import bind_sql, run_view, translate_views


# ------------------------------------------------------- translator parity

UNESCAPED = (
    "SELECT TABLE_A.col1, b.col2 \n"
    "  FROM db1.table_a \n"
    "  JOIN db2.table_b AS B ON B.key = table_a.key \n"
    " WHERE table_a.cond = 'VAL' \n"
    "   AND TABLE_A.cmp < b.cmp \n"
)

ESCAPED = (
    "SELECT `A`.`col1`, `table_b`.`col2` \n"
    "  FROM `db1`.`table_a` AS `A` \n"
    "  JOIN `db2`.`table_b` ON `table_b`.`key` = `A`.`key` \n"
    " WHERE `A`.`cond` = 'VAL' \n"
    "   AND `A`.`cmp` < `table_b`.`cmp` \n"
)


def test_translate_unescaped_reference_vector():
    got = translate_hql(UNESCAPED, {"db1.table_a": "r_db.a_table"})
    assert got == (
        "SELECT a_table.col1, b.col2 \n"
        "  FROM r_db.a_table \n"
        "  JOIN db2.table_b AS B ON B.key = a_table.key \n"
        " WHERE a_table.cond = 'VAL' \n"
        "   AND a_table.cmp < b.cmp \n"
    )


def test_translate_escaped_reference_vector():
    got = translate_hql(
        ESCAPED, {"db1.table_a": "r_db.a_table", "db2.table_b": "r_db.b_table"}
    )
    assert got == (
        "SELECT `A`.`col1`, `b_table`.`col2` \n"
        "  FROM `r_db`.`a_table` AS `A` \n"
        "  JOIN `r_db`.`b_table` ON `b_table`.`key` = `A`.`key` \n"
        " WHERE `A`.`cond` = 'VAL' \n"
        "   AND `A`.`cmp` < `b_table`.`cmp` \n"
    )


def test_translate_requires_qualified_names():
    with pytest.raises(ValueError):
        translate_hql("SELECT 1", {"bare": "r_db.t"})
    with pytest.raises(ValueError):
        translate_hql("SELECT 1", {"db.t": "bare"})
    # single-part destinations are the temp-view binding mode only
    got = translate_hql("SELECT t.x FROM db.t", {"db.t": "b0"}, require_qualified=False)
    assert got == "SELECT b0.x FROM b0"



def test_translate_hql_whole_identifiers_one_pass():
    """A mapped name is never rewritten inside a longer identifier (the
    replica path had ``db.tok2`` -> ``r.a2``), and a replacement is never
    re-scanned by a later mapping."""
    got = translate_hql(
        "SELECT tok2.x, `tok`.y FROM db.tok2 JOIN DB.TOK ON tok.id = tok2.id"
        " JOIN `db`.`tok2` JOIN mydb.tok",
        {"db.tok": "r.a", "db.tok2": "r.b"},
    )
    assert got == (
        "SELECT b.x, `a`.y FROM r.b JOIN r.a ON a.id = b.id"
        " JOIN `r`.`b` JOIN mydb.tok"
    )
    assert translate_hql("FROM a.t", {"a.t": "b.u", "b.u": "c.v"}) == "FROM b.u"

# ---------------------------------------------------- lifecycle + execution


def test_view_lifecycle_and_run(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "t"))
    t.append(tokens_df.limit(500), num_files=2)
    t.create_view(
        "long_docs",
        "SELECT tok.doc_id, tok.n_tok FROM db.tokens AS tok WHERE tok.n_tok > 100",
    )
    assert set(t.views()) == {"long_docs"}

    out = run_view(t, "long_docs", bindings={"db.tokens": t})
    expected = t.scan().filter(F.col("n_tok") > 100).count()
    assert out.count() == expected
    assert out.columns == ["doc_id", "n_tok"]

    # views ride forward through unrelated commits (carry-forward rule)
    t.append(tokens_df.limit(100), num_files=1)
    assert set(t.views()) == {"long_docs"}

    t.drop_view("long_docs")
    assert t.views() == {}
    # ... and the drop also rides forward
    t.append(tokens_df.limit(100), num_files=1)
    assert t.views() == {}
    with pytest.raises(KeyError):
        run_view(t, "long_docs", bindings={})


def test_view_snapshot_pinned(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "t"))
    t.append(tokens_df.limit(200), num_files=1)
    s1 = t.create_view("v", "SELECT count(*) AS n FROM db.tokens").snapshot_id
    t.create_view("v", "SELECT 1 AS one")
    assert t.views()[ "v"] == "SELECT 1 AS one"
    assert t.views(s1)["v"] == "SELECT count(*) AS n FROM db.tokens"


def test_bind_sql_prefix_names_resolve_to_their_own_tables(spark):
    """Binding ``db.tok`` and ``db.tok2`` together: neither name, in any of
    the four forms, is rewritten inside the other."""
    bound, _ = bind_sql(
        "SELECT max(tok2.id) AS hi, count(tok.id) AS n"
        " FROM db.tok2 LEFT JOIN DB.TOK ON tok.id = tok2.id"
        " WHERE `db`.`tok2`.id >= 0 AND coalesce(`tok`.id, 0) >= 0",
        {"db.tok": spark.range(3), "db.tok2": spark.range(5)},
    )
    row = spark.sql(bound).collect()[0]
    assert (row["hi"], row["n"]) == (4, 3)
    with pytest.raises(ValueError):
        bind_sql("SELECT 1", {"tok": spark.range(1)})


# ----------------------------------------------------- replication travel


def test_replicate_carries_translated_views(spark, tmp_path, tokens_df):
    src = TokenTable.create(spark, str(tmp_path / "src"))
    src.append(tokens_df.limit(500), num_files=2)
    src.create_view(
        "recent",
        "SELECT t.doc_id FROM prod.tokens AS t WHERE t.n_tok > 50",
    )
    rep = TokenTable.create(spark, str(tmp_path / "rep"))
    replicate(src, rep, mode="full", table_mappings={"prod.tokens": "replica.tokens"})

    views = rep.views()
    assert views == {
        "recent": "SELECT t.doc_id FROM replica.tokens AS t WHERE t.n_tok > 50"
    }
    # the replica view runs against the replica's own scan
    out = run_view(rep, "recent", bindings={"replica.tokens": rep})
    assert out.count() == rep.scan().filter(F.col("n_tok") > 50).count()

    # a views-only change still replicates (metadata-only commit)
    src.create_view("all_ids", "SELECT s.doc_id FROM prod.tokens AS s")
    r2 = replicate(
        src, rep, mode="incremental", table_mappings={"prod.tokens": "replica.tokens"}
    )
    assert r2.snapshot_id is not None
    assert set(rep.views()) == {"recent", "all_ids"}


def test_translate_views_validation(spark, tmp_path, tokens_df):
    src = TokenTable.create(spark, str(tmp_path / "src"))
    src.append(tokens_df.limit(200), num_files=1)
    src.create_view("ok", "SELECT t.doc_id FROM prod.tokens AS t")
    src.create_view("bad", "SELECT x.doc_id FROM prod.missing AS x")

    # validation binds the mapped names and analyzes: the unmapped/unbound
    # reference fails analysis, the ViewTransformation validation analogue
    with pytest.raises(AnalysisException):
        translate_views(
            src,
            {"prod.tokens": "replica.tokens"},
            validate_bindings={"replica.tokens": src},
        )
    src.drop_view("bad")
    out = translate_views(
        src,
        {"prod.tokens": "replica.tokens"},
        validate_bindings={"replica.tokens": src},
    )
    assert out == {"ok": "SELECT t.doc_id FROM replica.tokens AS t"}
