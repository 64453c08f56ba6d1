"""The nav stream depends on the seed and the label domains only."""

import sys

import navgen

DOMAINS = {
    "region": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    "nation": [f"NATION_{i}" for i in range(25)],
    "mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    "returnflag": ["A", "N", "R"],
    "linestatus": ["F", "O"],
    "orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "orderstatus": ["F", "O", "P"],
    "brand": [f"Brand#{i}" for i in range(1, 26)],
    "ptype": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
    "order_year": [str(y) for y in range(1995, 2002)],
}


def _spark_session_active() -> bool:
    sql = sys.modules.get("pyspark.sql")
    return sql is not None and sql.SparkSession.getActiveSession() is not None


def test_same_seed_same_stream_without_spark():
    assert not _spark_session_active()
    a = navgen.generate(7, DOMAINS, 150)
    b = navgen.generate(7, {k: list(v) for k, v in DOMAINS.items()}, 150)
    assert a == b
    assert len(a) == 150
    assert not _spark_session_active()


def test_other_seed_other_stream():
    assert navgen.generate(7, DOMAINS, 150) != navgen.generate(8, DOMAINS, 150)


def test_stream_is_valid_and_revisits():
    ops = navgen.generate(3, DOMAINS, 300)
    for op in ops:
        parts = [p.split(":") for p in op["q"].split("/")]
        axes = [p[1] for p in parts if p[0] == "a"]
        assert 1 <= len(axes) <= navgen.MAX_AXES
        assert len(set(axes)) == len(axes)
        for i, a in enumerate(axes):
            assert navgen.can_expand(axes[:i], a), op
        for p in parts:
            if p[0] == "f" and len(p) == 3:
                assert p[2] in DOMAINS[p[1]]
    distinct = {op["q"] for op in ops}
    # the working set exceeds the 20-entry memo, and most steps revisit
    assert 20 < len(distinct) < len(ops) / 2
    assert {op["step"] for op in ops} >= set(navgen.ACTIONS) | {"start"}


def test_read_domains_from_generated_tables(tmp_path):
    import data

    data.write_tables(str(tmp_path), seed=1, sf=0.0005)
    domains = navgen.read_domains(str(tmp_path))
    assert domains["region"] == DOMAINS["region"]
    assert domains["returnflag"] == ["A", "N", "R"]
    assert domains["order_year"][0] == "1995"
