"""utils/conf.conf_override, and the guard that keeps it the package's one
way to scope a session conf change."""

import pathlib
import re

import pytest

from bacon_spark.utils.conf import conf_override

PKG = pathlib.Path(__file__).resolve().parents[1] / "bacon_spark"

#: the session conf the package sets WITHOUT restoring it, one reason each
PERMANENT_PINS = {
    ("gate/_base.py", "spark.sql.session.timeZone"): (
        "gate queries return lazy frames collected after _read returns, and "
        "their date rendering must not depend on the harness session's zone"
    ),
    ("sources/star.py", "spark.sql.legacy.parquet.nanosAsLong"): (
        "read_table's frames are scanned after it returns; nanosecond events "
        "ts must still read as longs then"
    ),
}

#: the one environment variable the package reads
ENV_READS = {"SPARK_GRAFT_STATE_DIR"}


def test_conf_override_sets_then_restores_previous_value(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with conf_override(spark, {key: "3"}):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before


def test_conf_override_unsets_a_key_that_had_no_value(spark):
    custom = "spark.bacon_spark.test.unset_key"
    registered = "spark.sql.parquet.outputTimestampType"  # default INT96
    spark.conf.unset(custom)
    spark.conf.unset(registered)
    default = spark.conf.get(registered)
    with conf_override(spark, {custom: "x", registered: "TIMESTAMP_MICROS"}):
        assert spark.conf.get(custom) == "x"
        assert spark.conf.get(registered) == "TIMESTAMP_MICROS"
    assert spark.conf.get(custom, None) is None
    assert spark.conf.get(registered, None) is None
    assert spark.conf.get(registered) == default


def test_conf_override_restores_on_exception(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError, match="inside"):
        with conf_override(spark, {key: "false"}):
            assert spark.conf.get(key) == "false"
            raise RuntimeError("inside")
    assert spark.conf.get(key) == before


def test_conf_override_empty_dict_changes_nothing(spark):
    before = spark.conf.getAll
    with conf_override(spark, {}):
        assert spark.conf.getAll == before
    assert spark.conf.getAll == before


def _package_lines():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            yield rel, n, line


def test_conf_set_and_env_reads_go_through_their_one_place():
    """Scoped conf changes go through conf_override; the package sets no
    other conf except the permanent pins above and reads no environment
    variable except the state-dir root, so no hidden toggle can steer a
    result."""
    conf_set = re.compile(r"\.conf\.set\(\s*[\"']?([\w.]*)")
    env_read = re.compile(r"\bos\.environ\b|\bgetenv\b|from os import .*\benviron\b")
    stray = []
    for rel, n, line in _package_lines():
        m = conf_set.search(line)
        if m and rel != "utils/conf.py" and (rel, m.group(1)) not in PERMANENT_PINS:
            stray.append(f"{rel}:{n}: {line.strip()}")
        if env_read.search(line) and not any(v in line for v in ENV_READS):
            stray.append(f"{rel}:{n}: {line.strip()}")
    assert not stray, "\n".join(["use conf_override; read no env toggle:", *stray])
