"""Demo sales cube (CSV source) + Controller/flask adapter tests —
the reference's end-to-end web path (SURVEY §3.1) minus the browser."""

import json

import pytest

from bacon_spark import CubeQuery, CuttingBoard
from bacon_spark.observers.controller import Controller, make_flask_blueprint
from bacon_spark.observers.plot import TimePlotData
from bacon_spark.sources.sales_demo import (
    demo_cubedef,
    read_sales_csv,
    write_demo_csv,
)


@pytest.fixture(scope="module")
def board(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("demo") / "sales_csv")
    write_demo_csv(spark, path)
    df = read_sales_csv(spark, path)
    return CuttingBoard(demo_cubedef(), df)


def test_csv_source_roundtrip(board):
    assert board.df.count() == 34
    assert dict(board.df.dtypes)["creation_date"] == "date"


def test_demo_cube_query(board):
    # the milestone-0 query: axes=[month, state], values=[units, amount],
    # filter status='Sales Opportunity' (SURVEY §7 M0)
    q = (
        CubeQuery()
        .add_axis("creation_date_month")
        .add_axis("state")
        .add_value("units")
        .add_value("amount")
        .add_filter("status", "eq", "Sales Opportunity")
    )
    sl = board.slice(q)
    rows = sl.rows()
    assert rows
    # cross-check one cell against a direct computation
    import pyspark.sql.functions as F

    want = (
        board.df.filter(F.col("status") == "Sales Opportunity")
        .groupBy(F.date_trunc("month", "creation_date").cast("date").alias("m"), "state")
        .agg(F.sum("units").alias("u"))
        .collect()
    )
    want_map = {(r["m"], r["state"]): r["u"] for r in want}
    got_map = {(r["creation_date_month"], r["state"]): r["units"] for r in rows}
    assert got_map == want_map


def test_nullable_status_filter(board):
    # status '' token parses to None; eq None matches null rows
    q = CubeQuery().add_value("n").add_filter("status", "eq", None)
    n_null = board.slice(q).record["n"]
    import pyspark.sql.functions as F

    assert n_null == board.df.filter(F.col("status").isNull()).count() > 0


def test_controller_json(board):
    c = Controller(board)
    doc = c.render_json({"q": "a:state/v:units/o:-units"})
    assert doc["header"] == ["State", "Units"]
    assert len(doc["rows"]) == 3
    units = [r["values"]["units"] for r in doc["rows"]]
    assert units == sorted(units, reverse=True)


def test_controller_finish_query_hook(board):
    class MyController(Controller):
        def finish_query(self, query):
            return query.add_value("units")  # mandatory value

    c = MyController(board)
    doc = c.render_json({"q": "a:state"})
    assert doc["header"] == ["State", "Units"]


def test_flask_adapter(board):
    flask = pytest.importorskip("flask")
    app = flask.Flask(__name__)
    app.register_blueprint(make_flask_blueprint(Controller(board)))
    client = app.test_client()

    r = client.get("/table.json?q=a:state/v:units")
    assert r.status_code == 200
    doc = json.loads(r.data)
    assert doc["nrows"] == 3

    r = client.get("/table.csv?q=a:state/p:sales_stage/v:units")
    assert r.status_code == 200
    assert r.data.decode().startswith("State,")

    # bad query -> 404 (reference middleware behavior,
    # /root/reference/bacon/django/middleware.py:15-40)
    r = client.get("/table.json?q=a:nope")
    assert r.status_code == 404

    # unparseable filter VALUE (DataError) -> 404 too: the reference
    # middleware converts every AppError, not just unknown labels
    r = client.get("/table.json?q=a:state/f:creation_date_month=zzz/v:units")
    assert r.status_code == 404
    # and the csv route applies the same mapping
    r = client.get("/table.csv?q=a:nope")
    assert r.status_code == 404


def test_time_plot_data(board):
    q = CubeQuery().add_axis("creation_date_month").add_value("units").add_value("amount")
    pd = TimePlotData(board, q)
    assert len(pd.x) == len(set(pd.x))
    assert set(pd.series) == {"units", "amount"}
    assert pd.x == sorted(pd.x)


def test_keyset_table_json_roundtrip(board):
    """Keyset table paging: walking the `next` tokens visits every group
    exactly once, in key order, with constant-shape requests — the scale
    replacement for offset page state."""
    c = Controller(board)
    base = {"q": "a:city/v:units", "paging": "keyset", "limit": "4"}
    full = c.render_json({"q": "a:city/v:units"})
    want = [
        (r["cells"][0]["value"], r["values"]["units"]) for r in full["rows"]
    ]

    got, params, pages = [], dict(base), 0
    while params is not None:
        doc = c.render_json(params)
        got.extend(
            (r["cells"][0]["value"], r["values"]["units"]) for r in doc["rows"]
        )
        nxt = doc["next"]
        if nxt is not None:
            # the emitted dict IS the next request (plus the paging flag)
            params = {**nxt, "paging": "keyset"}
        else:
            params = None
        pages += 1
        assert pages < 20
    # keyset order is ascending axis order; offset table is label-sorted
    assert sorted(got) == sorted(want)
    assert [g[0] for g in got] == sorted(g[0] for g in got)
    assert len(got) == len(set(got)) == len(want)
    # drill links still emitted in keyset mode
    doc0 = c.render_json(dict(base))
    assert doc0["links"] and all("drill" in cell for r in doc0["rows"] for cell in r["cells"])


def test_keyset_rows_json_roundtrip(board):
    """Raw-rows keyset paging via the flask endpoint: pages are disjoint,
    cover the filtered set, and the last page has no next token."""
    flask = pytest.importorskip("flask")
    app = flask.Flask(__name__)
    app.register_blueprint(make_flask_blueprint(Controller(board)))
    client = app.test_client()

    from urllib.parse import urlencode

    seen = []
    params = {"q": "f:status:Sales Opportunity", "keys": "contact", "limit": "3"}
    pages = 0
    while params is not None:
        r = client.get("/rows.json?" + urlencode(params))
        assert r.status_code == 200
        doc = json.loads(r.data)
        idx = doc["columns"].index("contact")
        seen.extend(row[idx] for row in doc["rows"])
        params = doc["next"]  # self-contained next request
        pages += 1
        assert pages < 20
    assert seen == sorted(seen)
    assert len(seen) == len(set(seen))
    # pages exactly cover the filtered row set
    q = CubeQuery().add_filter("status", "eq", "Sales Opportunity")
    want = {r["contact"] for r in board.rows(q).collect()}
    assert set(seen) == want and len(want) > 3  # really took several pages

    # missing keys -> 404 via error mapping
    r = client.get("/rows.json?q=a:state")
    assert r.status_code == 404


def test_flask_html_route(board):
    flask = pytest.importorskip("flask")
    app = flask.Flask(__name__)
    app.register_blueprint(make_flask_blueprint(Controller(board)))
    client = app.test_client()

    r = client.get("/table.html?q=a:state/v:units")
    assert r.status_code == 200
    html = r.data.decode()
    assert 'class="bacon bacon-values"' in html
    assert '<tr class="totals">' in html
    # nav links serve the SAME query space as the JSON sink: a drill href
    # from the HTML round-trips through the JSON endpoint
    import re

    m = re.search(r'href="\?(f:state[^"]*)"', html)
    assert m
    r2 = client.get("/table.json?q=" + m.group(1))
    assert r2.status_code == 200

    # pivot query renders the pivot table; engine errors still 404
    r = client.get("/table.html?q=a:state/p:sales_stage/v:units")
    assert r.status_code == 200
    assert "bacon-pivot" in r.data.decode()
    assert client.get("/table.html?q=a:nope").status_code == 404


def test_nav_panel_json(board):
    from bacon_spark.builders.url import UrlQueryBuilder
    from bacon_spark.observers.json import render_nav_json

    cd = board.cubedef
    builder = UrlQueryBuilder(cd)
    q = builder.parse("a:state/f:status:eq:open/v:units")
    panel = render_nav_json(cd, q)

    # axes grouped by dimension; the in-use axis is not expandable
    flat = {a["axis"]: a["url"] for g in panel["axes"] for a in g["axes"]}
    assert flat["state"] is None
    # at least one other label is addable and its url round-trips
    addable = [(n, u) for n, u in flat.items() if u]
    assert addable
    q2 = builder.parse(addable[0][1])
    assert addable[0][0] in q2.axes

    # the active filter exposes drop/invert/related urls
    f = panel["filters"][0]
    assert "Status" in f["label"] and "=" in f["label"]
    assert ("status", "eq", "open") not in builder.parse(f["drop_url"]).filters
    assert ("status", "ne", "open") in builder.parse(f["invert_url"]).filters
    # eq's related family includes the membership swap
    assert f["related_urls"]

    # hidden/unused measures offer show urls
    shows = {v["label"]: v["show_url"] for v in panel.get("values", [])}
    assert shows
    any_show = builder.parse(next(iter(shows.values())))
    assert len(any_show.values) > len(q.values)


def test_flask_nav_route(board):
    flask = pytest.importorskip("flask")
    app = flask.Flask(__name__)
    app.register_blueprint(make_flask_blueprint(Controller(board)))
    client = app.test_client()
    r = client.get("/nav.json?q=a:state/v:units")
    assert r.status_code == 200
    doc = json.loads(r.data)
    assert "axes" in doc
    assert client.get("/nav.json?q=a:nope").status_code == 404


def test_nav_widgets(board):
    from bacon_spark.builders.url import UrlQueryBuilder
    from bacon_spark.observers.json import render_nav_json
    from bacon_spark.observers.widgets import (
        ButtonsWidget,
        DatesRangeWidget,
        FilterButton,
        StringFilterWidget,
    )

    cd = board.cubedef
    builder = UrlQueryBuilder(cd)
    q = builder.parse("a:state/v:units")
    widgets = [
        DatesRangeWidget("Created", "creation_date_day"),
        StringFilterWidget("City", "city"),
        ButtonsWidget(
            "Stage",
            [
                FilterButton("Open only", "status", "open"),
                FilterButton("All", "status", FilterButton.REMOVE),
            ],
        ),
    ]
    panel = render_nav_json(cd, q, widgets=widgets)
    w = {x["type"]: x for x in panel["widgets"]}

    # the range templates carry placeholders and round-trip after
    # substituting real dates back through the DSL parser
    r = w["dates_range"]
    assert "__from__" in r["from_url"] and "__to__" in r["range_url"]
    concrete = r["range_url"].replace("__from__", "2023-01-01").replace(
        "__to__", "2023-12-31"
    )
    q2 = builder.parse(concrete)
    ops = {(f[0], f[1]) for f in q2.filters}
    assert ("creation_date_day", "ge") in ops and ("creation_date_day", "le") in ops

    s = w["string_filter"]
    assert "__PLACEHOLDER__" in s["filter_url"]
    q3 = builder.parse(s["filter_url"].replace("__PLACEHOLDER__", "Austin"))
    assert ("city", "eq", "Austin") in q3.filters

    b = w["buttons"]["buttons"]
    assert ("status", "eq", "open") in builder.parse(b[0]["url"]).filters
    assert not [f for f in builder.parse(b[1]["url"]).filters if f[0] == "status"]


def test_table_json_row_detail_links(board):
    from bacon_spark.builders.url import UrlQueryBuilder
    from bacon_spark.observers.json import render_table_json
    from bacon_spark.observers.tables import Table1D

    builder = UrlQueryBuilder(board.cubedef)
    q = builder.parse("a:state/v:units")
    doc = render_table_json(Table1D(board, q))
    first = doc["rows"][0]
    detail_q = builder.parse(doc["links"][first["detail"]])
    # de-aggregated: no axes left, the row's state pinned as a filter
    assert detail_q.axes == ()
    assert any(f[0] == "state" and f[1] == "eq" for f in detail_q.filters)
    # and the detail query actually serves raw rows
    rows = board.rows(detail_q, limit=5).collect()
    assert rows


# ---------------------------------------------------------------------------
# Installable demo entry point (python -m bacon_spark.demo <sf_dir>)
# ---------------------------------------------------------------------------


def test_demo_app_serves_star_cube(spark):
    from bacon_spark.demo import build_app

    app = build_app("/root/testdata/sf0.001", spark=spark)
    client = app.test_client()

    r = client.get("/")
    assert r.status_code == 302 and "/table.html" in r.headers["Location"]

    r = client.get("/table.html?q=a:region/v:revenue")
    assert r.status_code == 200
    body = r.data.decode()
    assert "<table" in body and "revenue" in body

    r = client.get("/table.json?q=a:region/v:revenue")
    assert r.status_code == 200
    doc = r.get_json()
    assert doc["rows"] and "revenue" in doc["rows"][0]["values"]

    # the navigation panel renders, date-range widget included
    r = client.get("/nav.json?q=a:region/v:revenue")
    assert r.status_code == 200, r.data
    assert "order_day" in [w.get("axis") for w in r.get_json()["widgets"]]

    # engine errors surface as 404 (reference ErrorTo404 contract)
    r = client.get("/table.html?q=a:nonexistent_axis")
    assert r.status_code == 404


def test_demo_console_script_registered():
    # pyproject [project.scripts]: bacon-spark-demo -> bacon_spark.demo:main
    import tomllib

    with open("/root/repo/pyproject.toml", "rb") as f:
        meta = tomllib.load(f)
    assert meta["project"]["scripts"]["bacon-spark-demo"] == "bacon_spark.demo:main"
    from bacon_spark.demo import main

    assert callable(main)
