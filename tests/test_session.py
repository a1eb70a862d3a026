"""Session construction settings that need no running Spark."""

from __future__ import annotations

import pytest

from python_dtl_spark.session import df_debugging_flag


@pytest.mark.parametrize(
    "value, expected",
    [
        ("1", "true"),
        ("true", "true"),
        ("TRUE", "true"),
        ("Yes", "true"),
        (" yes ", "true"),
        (None, "false"),
        ("", "false"),
        ("0", "false"),
        ("false", "false"),
        ("no", "false"),
        ("on", "false"),
    ],
)
def test_df_debugging_flag_normalizes_env_value(value, expected):
    assert df_debugging_flag(value) == expected
