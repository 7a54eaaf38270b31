"""The ad-hoc conf parser of the per-query probe harness."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench_extra import parse_extra_conf  # noqa: E402


def test_plain_pairs():
    assert parse_extra_conf("k1=v1,k2=v2") == {"k1": "v1", "k2": "v2"}
    assert parse_extra_conf(" spark.a.b = 1 , spark.c=x ") == {
        "spark.a.b": "1", "spark.c": "x"
    }
    assert parse_extra_conf("") == {}


def test_value_may_hold_commas():
    got = parse_extra_conf(
        "spark.driver.extraJavaOptions=-Da=1,-Db=2,"
        "spark.sql.shuffle.partitions=8"
    )
    assert got == {
        "spark.driver.extraJavaOptions": "-Da=1,-Db=2",
        "spark.sql.shuffle.partitions": "8",
    }
    assert parse_extra_conf("k=a, b c") == {"k": "a, b c"}


def test_entry_without_equals_is_rejected():
    with pytest.raises(ValueError, match="'oops'"):
        parse_extra_conf("oops,k=v")
    with pytest.raises(ValueError, match="'=v'"):
        parse_extra_conf("=v")
