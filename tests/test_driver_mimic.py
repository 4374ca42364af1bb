"""``tools/driver_mimic.py``, the one oracle-compare tool, and the frame
compare it shares with the oracle tests."""

import pandas as pd
import pytest

from tools import driver_mimic

from .oracle_utils import assert_frames_match


def test_integer_spark_value_does_not_match_fractional_oracle():
    """Spark 1 against oracle 1.5 is a mismatch, as in the driver's hash
    compare: the oracle is never cast to Spark's dtypes first."""
    with pytest.raises(AssertionError, match="x"):
        assert_frames_match(pd.DataFrame({"x": [1]}), pd.DataFrame({"x": [1.5]}), "q")


def test_driver_mimic_checks_named_query(spark, sf_dir):
    assert driver_mimic.main(["pricing_summary", "--sf", sf_dir], spark) == 0


def test_driver_mimic_rejects_unknown_query(capsys):
    with pytest.raises(SystemExit) as exc:
        driver_mimic.main(["pricing_summary", "no_such_query"])
    assert exc.value.code != 0
    assert "no_such_query" in capsys.readouterr().err
