"""Demo web controller: serve the star-schema sales cube over HTTP.

The product surface the reference ships as ``bin/gammon-multithread.py`` +
``setup.py`` (a runnable server over a dataset), re-expressed for this
engine: point it at a parquet star-schema directory (the driver fixtures
work: ``python -m bacon_spark.demo /root/testdata/sf0.01``) and it serves

    /table.html  — rendered cube table (the flagship interactive surface)
    /table.json  — JSON table (keyset paging via ?after=/paging=keyset)
    /table.csv   — CSV download
    /rows.json   — raw-row detail (keyset-paged)
    /nav.json    — navigation model (drill/pivot/filter links + widgets)

Query state travels in the ``q`` URL param (the engine's URL DSL — see
builders/url.py); ``/`` redirects to a starter query.

Flask is an optional extra (``pip install bacon-spark[flask]``); the
adapter only extracts request params, everything else is the
framework-agnostic Controller (observers/controller.py).
"""

from __future__ import annotations

import argparse


def build_app(sf_dir: str, spark=None, cache_results: bool = True):
    """Flask app serving the sales cube over *sf_dir* (parquet star dir)."""
    from flask import Flask, redirect

    from .observers.controller import Controller, make_flask_blueprint
    from .observers.widgets import DatesRangeWidget, StringFilterWidget
    from .sources.star import StarCuttingBoard, sales_cubedef

    if spark is None:
        spark = _default_session()
    cubedef = sales_cubedef()
    board = StarCuttingBoard(cubedef, spark, sf_dir, cache_results=cache_results)
    controller = Controller(
        board,
        widgets=[
            DatesRangeWidget("Order date", "order_day"),
            StringFilterWidget("Region", "region"),
        ],
    )
    app = Flask("bacon_spark_demo")
    app.register_blueprint(make_flask_blueprint(controller))

    @app.route("/")
    def index():
        # starter query: revenue by region (axes + measure via the URL DSL)
        return redirect("/table.html?q=a:region/v:revenue")

    return app


def _default_session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[*]")
        .appName("bacon_spark-demo")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        prog="bacon-spark-demo",
        description="Serve the demo sales cube from a parquet star-schema dir",
    )
    p.add_argument("sf_dir", help="directory holding the star parquet tables")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8050)
    args = p.parse_args(argv)
    app = build_app(args.sf_dir)
    app.run(host=args.host, port=args.port)


if __name__ == "__main__":
    main()
