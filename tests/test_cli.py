"""CLI argument validation (fails before any Spark session starts)."""

import pytest

from circus_train_spark.cli import main


@pytest.mark.parametrize(
    "argv, bad",
    [
        (["replicate", "--source", "s", "--replica", "r", "--table-mapping", "db.t"], "db.t"),
        (["update", "--table", "t", "--where", "n_tok > 1", "--set", "n_tok"], "n_tok"),
    ],
)
def test_malformed_pair_is_a_usage_error(argv, bad, capsys):
    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert exc.value.code == 2
    assert f"expected KEY=VALUE, got {bad!r}" in capsys.readouterr().err
