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


def test_oracle_connection_spills_outside_the_working_dir(sf_dir, tmp_path, monkeypatch):
    """The oracle's DuckDB is capped at about a third of physical memory and
    spills to the directory it is given, not to ``.tmp/`` under the
    working directory (8.7 GB for minhash_band_sweep at sf0.1)."""
    import os

    work, spill = tmp_path / "work", tmp_path / "spill"
    work.mkdir()
    spill.mkdir()
    monkeypatch.chdir(work)
    con = driver_mimic.oracle_connection(sf_dir, str(spill))
    try:
        temp_dir, limit = con.sql(
            "SELECT current_setting('temp_directory'), current_setting('memory_limit')"
        ).fetchone()
    finally:
        con.close()
    assert os.path.realpath(temp_dir) == str(spill.resolve())
    assert os.path.commonpath([os.path.realpath(temp_dir), str(work.resolve())]) != str(work.resolve())
    value, unit = limit.split()
    gib = float(value) * {"MiB": 2**-10, "GiB": 1, "TiB": 2**10}[unit]
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0.8 * phys / 3 < gib * 2**30 <= phys / 3, limit  # not DuckDB's 80% default
