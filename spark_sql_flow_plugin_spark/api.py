"""Public lineage API (reference parity: SQLFlow.scala:946-966 +
api/python/SQLFlowApi.scala + python/sqlflow.py).

- DataFrame mode:  ``to_sql_flow_string(df)`` / ``save_as_sql_flow(df, dir)``
  / ``print_as_sql_flow(df)`` — lineage of one query plan.
- Catalog mode:    same functions with a SparkSession instead of a DataFrame
  — one graph over every registered view.
- ``save_data_lineage`` / ``export_data_lineage_into`` keep the reference's
  Python signatures (sqlflow.py:123-133), minus the py4j hop.
- Custom formats: pass any callable ``(nodes, edges) -> str``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .plans import lineage
from .plans.catalog import catalog_lineage
from .plans.graph import GraphEdge, GraphNode
from .sinks import SINKS, GraphVizSink


def _resolve_format(fmt):
    if fmt is None:
        return GraphVizSink()
    if isinstance(fmt, str):
        try:
            return SINKS[fmt]()
        except KeyError:
            raise ValueError(f"unknown graph sink {fmt!r}; expected {sorted(SINKS)}")
    return fmt


def extract(
    target: DataFrame | SparkSession, contracted: bool = False, flow_name: str | None = None
) -> tuple[list[GraphNode], list[GraphEdge]]:
    """(nodes, edges) for a DataFrame's plan or a whole session catalog."""
    if isinstance(target, SparkSession):
        return catalog_lineage(target, contracted=contracted)
    return lineage.lineage_from_jplan(lineage.dataframe_plan(target), flow_name, contracted)


def to_sql_flow_string(
    target,
    contracted: bool = False,
    graph_format=None,
    flow_name: str | None = None,
) -> str:
    nodes, edges = extract(target, contracted, flow_name)
    fmt = _resolve_format(graph_format)
    if callable(fmt) and not hasattr(fmt, "to_graph_string"):
        return fmt(nodes, edges)  # custom formatter lambda
    return fmt.to_graph_string(nodes, edges)


def print_as_sql_flow(target, contracted: bool = False, graph_format=None) -> None:
    print(to_sql_flow_string(target, contracted, graph_format))


def save_as_sql_flow(
    target,
    output_dir_path: str,
    contracted: bool = False,
    graph_sink="graphviz",
    filename_prefix: str = "sqlflow",
    overwrite: bool = False,
) -> str:
    nodes, edges = extract(target, contracted)
    sink = _resolve_format(graph_sink)
    sink.filename_prefix = filename_prefix
    return sink.write(nodes, edges, output_dir_path, overwrite=overwrite)


# -- reference python-shim signatures (sqlflow.py:123-133) -------------------


def save_data_lineage(
    spark: SparkSession,
    output_dir_path: str,
    filename_prefix: str = "sqlflow",
    graph_sink: str = "graphviz",
    contracted: bool = False,
    overwrite: bool = False,
) -> str:
    return save_as_sql_flow(
        spark, output_dir_path, contracted, graph_sink, filename_prefix, overwrite
    )


def column_provenance(df: DataFrame, column: str) -> list[tuple[str, str]]:
    """Source (table, column) pairs feeding one output column of ``df`` —
    contracted-mode closure narrowed to a single column. The
    "where does this number come from" primitive."""
    nodes, edges = extract(df, contracted=True, flow_name="__prov__")
    by_id = {n.unique_id: n for n in nodes}
    try:
        idx = df.columns.index(column)
    except ValueError:
        raise KeyError(f"column {column!r} not in {df.columns}")
    out = []
    for e in edges:
        if e.to_id == "__prov__" and e.to_idx == idx and e.from_id in by_id:
            src = by_id[e.from_id]
            name = (
                src.attribute_names[e.from_idx]
                if e.from_idx is not None and e.from_idx < len(src.attribute_names)
                else "*"
            )
            out.append((src.ident, name))
    return sorted(set(out))


def export_data_lineage_into(
    spark: SparkSession,
    graph_sink,
    contracted: bool = False,
    options: dict | None = None,
) -> None:
    nodes, edges = extract(spark, contracted)
    graph_sink.write(nodes, edges, **(options or {}))
