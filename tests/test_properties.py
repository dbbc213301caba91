"""Hypothesis property tests. Spark-backed properties keep tiny example
budgets (each example runs real jobs); pure-Python properties run wide."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from circus_train_spark.pipeline.sampling import temperature_rates

# ---------------------------------------------------------------- pure python


@given(
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.integers(min_value=1, max_value=10**9),
        min_size=1,
        max_size=12,
    ),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_temperature_rates_invariants(counts, alpha):
    rates = temperature_rates(counts, alpha)
    assert set(rates) == set(counts)
    n_min = min(counts.values())
    for s, n in counts.items():
        assert 0.0 < rates[s] <= 1.0 + 1e-12
        if n == n_min:
            assert abs(rates[s] - 1.0) < 1e-12  # rarest keeps everything
    # monotone: more rows -> lower (or equal) rate
    by_n = sorted(counts.items(), key=lambda kv: kv[1])
    for (_, n1), (_, n2) in zip(by_n, by_n[1:]):
        s1 = [s for s, n in counts.items() if n == n1][0]
        s2 = [s for s, n in counts.items() if n == n2][0]
        assert rates[s1] >= rates[s2] - 1e-12


def _bpe_reference(tokens, a, b, c):
    out = []
    for x in tokens:
        if out and out[-1] == a and x == b:
            out[-1] = c
        else:
            out.append(x)
    return out


# ---------------------------------------------------------------- spark-backed

_SPARK_BUDGET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@_SPARK_BUDGET
@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=5), max_size=12),
        min_size=1,
        max_size=6,
    ),
    pair=st.tuples(
        st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=5)
    ),
)
def test_apply_bpe_merge_matches_reference_fold(spark, docs, pair):
    from circus_train_spark.pipeline.tokens import apply_bpe_merge

    a, b = pair
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, tokens array<int>"
    )
    got = {
        r["doc_id"]: list(r["m"])
        for r in apply_bpe_merge(df, a, b, 99, out_col="m").collect()
    }
    want = {i: _bpe_reference(t, a, b, 99) for i, t in enumerate(docs)}
    assert got == want


@_SPARK_BUDGET
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=8
    ),
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_join_equals_plain_join_property(spark, left, right, n_salts):
    from circus_train_spark.operators.joins import salted_join

    l = spark.createDataFrame(left or [(99, 99)], "k long, lv long")
    r = spark.createDataFrame(right or [(98, 98)], "k long, rv long")
    got = sorted(tuple(x) for x in salted_join(l, r, on=["k"], n_salts=n_salts).collect())
    want = sorted(tuple(x) for x in l.join(r, ["k"], "inner").collect())
    assert got == want


# --------------------------------------------------------- hql translation
#
# translate_hql rewrites the reference's four forms on whole identifiers,
# so idempotence only holds when replacements cannot re-introduce a source
# form. These properties construct that regime explicitly: source names
# carry a 'z' that is excluded from every fragment and destination tail,
# so each injected occurrence is a complete form and nothing else can
# match; a space sets each unescaped form apart from its neighbouring
# fragments, and the same forms glued inside a longer identifier are left
# alone.

_ZFREE_FRAG = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="`_zZ", exclude_categories=("Cc",)
    ),
    max_size=40,
)
_ZFREE_NAME = st.from_regex(r"[a-y][a-y0-9]{0,8}", fullmatch=True)


@given(
    frags=st.lists(_ZFREE_FRAG, min_size=5, max_size=5),
    names=st.lists(_ZFREE_NAME, min_size=4, max_size=4),
)
def test_translate_hql_exact_rewrite_and_idempotence(frags, names):
    from circus_train_spark.functions.hql import translate_hql

    a, b, c, d = names
    db, tbl, ddb, dtbl = f"z{a}", f"z{b}", f"r_{c}", f"w_{d}"
    text = (
        frags[0] + f" {db}.{tbl} " + frags[1] + f" {tbl}." + frags[2]
        + f"`{db}`.`{tbl}`" + frags[3] + f"`{tbl}`." + frags[4]
    )
    mapping = {f"{db}.{tbl}": f"{ddb}.{dtbl}"}
    once = translate_hql(text, mapping)
    assert once == (
        frags[0] + f" {ddb}.{dtbl} " + frags[1] + f" {dtbl}." + frags[2]
        + f"`{ddb}`.`{dtbl}`" + frags[3] + f"`{dtbl}`." + frags[4]
    )
    # inside a longer identifier the unescaped forms are not table names
    glued = f"x{db}.{tbl}y x{tbl}."
    assert translate_hql(glued, mapping) == glued
    # fixed point: a second pass finds nothing left to rewrite
    assert translate_hql(once, mapping) == once
    # identity mapping never changes any text
    assert translate_hql(text, {f"{db}.{tbl}": f"{db}.{tbl}"}) == text


@given(_ZFREE_FRAG, _ZFREE_NAME, _ZFREE_NAME)
def test_translate_hql_untouched_without_source_forms(hql, a, b):
    """Text that contains no source form (guaranteed: sources carry 'z',
    the text is z-free) passes through byte-identical."""
    from circus_train_spark.functions.hql import translate_hql

    assert translate_hql(hql, {f"z{a}.z{b}": "r_db.w_tbl"}) == hql


@given(_ZFREE_NAME, _ZFREE_NAME, _ZFREE_NAME, _ZFREE_NAME)
def test_translate_hql_case_insensitive_match_preserves_replacement_case(
    a, b, c, d
):
    from circus_train_spark.functions.hql import translate_hql

    db, tbl = f"z{a}", f"z{b}"
    got = translate_hql(
        f"FROM {db.upper()}.{tbl.upper()} WHERE {tbl.upper()}.x = 1",
        {f"{db}.{tbl}": f"r_{c}.w_{d}"},
    )
    assert got == f"FROM r_{c}.w_{d} WHERE w_{d}.x = 1"
