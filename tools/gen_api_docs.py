"""Generate docs/API.md from the package's docstrings.

Introspection-based so the doc can't drift from the code: every public
module in bacon_spark gets a section with its module docstring, then each
public class/function signature + docstring. Scale notes live in the
docstrings themselves (and in SCALE.md, linked per section).

Usage: python tools/gen_api_docs.py [out_md]
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MODULES = [
    # (import path, section heading)
    ("bacon_spark", "Package overview"),
    ("bacon_spark.cubedef", "Cube schema: CubeDef / labels / measures"),
    ("bacon_spark.cubequery", "CubeQuery: the immutable logical plan"),
    ("bacon_spark.accumulators", "Accumulators (reference aggregate semantics)"),
    ("bacon_spark.filters", "Filter operators"),
    ("bacon_spark.engine", "CuttingBoard: the executor"),
    ("bacon_spark.cubenav", "Interactive navigation"),
    ("bacon_spark.builders.url", "URL query DSL"),
    ("bacon_spark.sql", "SQL pushdown source"),
    ("bacon_spark.sources.star", "Star-schema source / join culling"),
    ("bacon_spark.sources.django_orm", "Django-ORM source"),
    ("bacon_spark.sources.synthetic", "Custom Python DataSource"),
    ("bacon_spark.sources.sales_demo", "Demo CSV source"),
    ("bacon_spark.observers.tables", "Tables / pivots / totals"),
    ("bacon_spark.observers.controller", "Web controller + flask adapter"),
    ("bacon_spark.observers.django_http", "Django HTTP adapter"),
    ("bacon_spark.observers.json", "JSON renderers (+keyset paging)"),
    ("bacon_spark.observers.csv", "CSV sink"),
    ("bacon_spark.observers.excel", "Excel sink"),
    ("bacon_spark.observers.html", "HTML renderer"),
    ("bacon_spark.observers.plot", "Plot sink"),
    ("bacon_spark.observers.widgets", "Nav widgets"),
    ("bacon_spark.operators.temporal", "Temporal joins (as-of / range / overlap)"),
    ("bacon_spark.operators.lattice", "Cube/rollup lattice"),
    ("bacon_spark.operators.scale", "Scale operators (bucketing / salting / widen)"),
    ("bacon_spark.operators.decisions", "Routing-decision log"),
    ("bacon_spark.operators.ranking", "Distributed ranking"),
    ("bacon_spark.operators.sampling", "Deterministic sampling / splits"),
    ("bacon_spark.operators.packing", "Sequence packing"),
    ("bacon_spark.operators.graph", "Graph algorithms (CC / PageRank / triangles)"),
    ("bacon_spark.operators.stats", "Statistics (regression / MAD outliers)"),
    ("bacon_spark.operators.timeseries", "Time series (EWMA / LTTB / gaps)"),
    ("bacon_spark.operators.maintenance", "Layout maintenance (CDC / z-order / manifests)"),
    ("bacon_spark.operators.profile", "Table profiling"),
    ("bacon_spark.operators.sketch", "Cardinality/similarity sketches (HLL / KMV)"),
    ("bacon_spark.llm.dedup", "LLM dedup (exact / MinHash / SimHash / winnowing)"),
    ("bacon_spark.llm.similarity", "Embedding similarity / LSH"),
    ("bacon_spark.llm.ivf", "IVF-Flat ANN + quantization"),
    ("bacon_spark.llm.text", "Text analysis / quality / PII"),
    ("bacon_spark.llm.decontam", "Decontamination"),
    ("bacon_spark.llm.importance", "DSIR importance weights"),
    ("bacon_spark.llm.lm", "Bigram-LM perplexity"),
    ("bacon_spark.llm.bpe", "BPE pair counting"),
    ("bacon_spark.llm.ranking", "BM25 / tf-idf / inverted index"),
    ("bacon_spark.llm.multimodal", "Multimodal binary columns"),
    ("bacon_spark.llm.codecs", "Stdlib image/audio codecs"),
    ("bacon_spark.llm.jpeg", "Baseline JFIF codec"),
    ("bacon_spark.llm.pq", "Product quantization (PQ / IVF-PQ)"),
    ("bacon_spark.llm.pq_index", "Prebuilt ANN indexes (IVF-PQ / plain PQ)"),
    ("bacon_spark.llm.tokens_table", "Once-per-ingest token table"),
    ("bacon_spark.llm.clustering", "Deterministic k-means / SemDeDup"),
    ("bacon_spark.streaming.windows", "Streaming windows"),
    ("bacon_spark.streaming.asof", "Streaming as-of join"),
    ("bacon_spark.streaming.overlap", "Streaming overlap join"),
    ("bacon_spark.streaming.incremental", "Streaming dedup / IVM"),
    ("bacon_spark.streaming.sink", "Exactly-once manifest sink"),
    ("bacon_spark.streaming.funnel", "Streaming ordered funnel"),
    ("bacon_spark.streaming.state", "State-store provider policy"),
    ("bacon_spark.utils.conf", "Scoped conf overrides"),
    ("bacon_spark.operators.funnel", "Funnel / cohort retention"),
    ("bacon_spark.functions.udaf", "Pandas UDAFs"),
    ("bacon_spark.functions.udtf", "UDTFs"),
    ("bacon_spark.demo", "Runnable demo server"),
    ("bacon_spark.gate", "Gate-query inventory (QUERIES/ORACLES)"),
]


def clean_doc(doc: str | None, indent: str = "") -> str:
    if not doc:
        return ""
    return "\n".join(indent + line for line in inspect.cleandoc(doc).split("\n"))


def sig_of(obj) -> str:
    try:
        return str(inspect.signature(obj))
    except (ValueError, TypeError):
        return "(...)"


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/docs/API.md"
    # a few modules (pandas_udf declarations) need an active session to import
    from pyspark.sql import SparkSession

    SparkSession.builder.master("local[2]").config(
        "spark.ui.enabled", "false"
    ).getOrCreate().sparkContext.setLogLevel("ERROR")
    parts = [
        "# bacon_spark API reference",
        "",
        "Generated by `tools/gen_api_docs.py` from the package docstrings —",
        "regenerate after changing any public API. Per-operator 100 TB scale",
        "analysis lives in [SCALE.md](../SCALE.md); the measured scaling sweep",
        "in `SCALE_SWEEP.json`.",
        "",
    ]
    for path, heading in MODULES:
        try:
            mod = importlib.import_module(path)
        except Exception as e:  # env-gated modules (flask absent, etc.)
            parts += [f"## {heading} (`{path}`)", "", f"_unavailable in this environment: {e}_", ""]
            continue
        parts += [f"## {heading} (`{path}`)", ""]
        mdoc = clean_doc(mod.__doc__)
        if mdoc:
            parts += [mdoc, ""]
        for name in sorted(dir(mod)):
            if name.startswith("_"):
                continue
            obj = getattr(mod, name)
            if inspect.ismodule(obj):
                continue
            # only document things DEFINED in this module (skip re-imports)
            if getattr(obj, "__module__", None) != path:
                continue
            if inspect.isclass(obj):
                parts += [f"### class `{name}{sig_of(obj)}`", ""]
                d = clean_doc(obj.__doc__)
                if d:
                    parts += [d, ""]
                for mname, meth in sorted(vars(obj).items()):
                    if mname.startswith("_") or not callable(meth):
                        continue
                    md = clean_doc(inspect.getdoc(meth))
                    if md:
                        parts += [f"- **`{mname}{sig_of(meth)}`** — {md.split(chr(10))[0]}"]
                parts += [""]
            elif inspect.isfunction(obj):
                parts += [f"### `{name}{sig_of(obj)}`", ""]
                d = clean_doc(obj.__doc__)
                if d:
                    parts += [d, ""]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    text = "\n".join(parts) + "\n"
    with open(out_path, "w") as f:
        f.write(text)
    print(f"wrote {out_path}: {text.count(chr(10))} lines")


if __name__ == "__main__":
    main()
