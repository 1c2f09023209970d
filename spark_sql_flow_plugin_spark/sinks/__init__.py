from .base import BaseGraphFormat, GraphFileSink, write_graph_file
from .adjacency import AdjacencyListSink
from .graphviz import GraphVizSink
from .mermaid import MermaidSink

#: graph-format name → sink class, for ``graph_format``/``graph_sink``
#: strings, the CLI's ``--format`` and the listener's
#: ``spark.sql.flow.listener.sink`` conf (which documents ``adjacency``)
SINKS = {
    "graphviz": GraphVizSink,
    "adjacency_list": AdjacencyListSink,
    "adjacency": AdjacencyListSink,
    "mermaid": MermaidSink,
}

__all__ = [
    "AdjacencyListSink",
    "BaseGraphFormat",
    "GraphFileSink",
    "GraphVizSink",
    "MermaidSink",
    "SINKS",
    "write_graph_file",
]
