"""Audit/listener mode: per-query lineage capture via a py4j-callback
``QueryExecutionListener`` (reference listeners.scala:31-97).

After every successful action, Spark fires ``onSuccess(funcName, qe,
durationNs)`` on the listener bus; we extract the optimized plan's lineage,
stamp ``durationMs`` + an ISO timestamp on the query node (reference
listeners.scala:56-61), and append to the sink (GraphViz appends into
per-query UTC-timestamped subdirectories).

Reference behaviors kept:
- ``Command`` plans are skipped (listeners.scala:51-53);
- errors are logged and swallowed — lineage capture must never fail a query
  (listeners.scala:64-67);
- query nodes are named ``query_<abs(hash)>``.

Each listener counts its calls by outcome: ``captured``, ``skipped``
(Command plans) and ``failed`` (any exception, the sink's included).

py4j caveat (SURVEY.md §7 risk 3): callbacks run on the listener-bus thread
through the py4j ClientServer. PySpark's default gateway supports Python
callbacks, but under heavy concurrency the pure-Python
``@auto_tracking`` decorators (functions/tracking.py) are the robust
alternative. Tests must wait for the listener bus to drain
(``spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()``).
"""

from __future__ import annotations

import logging
from datetime import datetime, timezone

from ..plans import lineage

logger = logging.getLogger(__name__)


class SQLFlowListener:
    """Python implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, sink, output_dir: str, contracted: bool = False):
        self.sink = sink
        self.output_dir = output_dir
        self.contracted = contracted
        #: onSuccess calls by outcome
        self.captured = 0
        self.skipped = 0
        self.failed = 0

    # -- QueryExecutionListener interface -------------------------------------

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java name)
        try:
            jplan = qe.optimizedPlan()
            if "Command" in jplan.getClass().getName():
                self.skipped += 1  # INSERT/DDL lineage is a reference non-goal
                return
            props = {
                "durationMs": str(int(durationNs) // 1_000_000),
                "timestamp": datetime.now(timezone.utc).isoformat(),
            }
            nodes, edges = lineage.lineage_from_jplan(
                jplan, f"query_{abs(qe.hashCode())}", self.contracted, props
            )
            self.sink.append(nodes, edges, self.output_dir)
            self.captured += 1
        except Exception as exc:  # never propagate into the listener bus
            self.failed += 1
            logger.warning("SQLFlowListener failed to capture lineage: %s", exc)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        return None

    def toString(self):  # py4j object protocol
        return f"SQLFlowListener(dir={self.output_dir})"

    def equals(self, other):
        return other is self

    def hashCode(self):
        return id(self)


def register(spark, sink, output_dir: str, contracted: bool = False) -> SQLFlowListener:
    """Register a lineage listener on the session's listenerManager
    (reference README.md:237-240 programmatic registration)."""
    from pyspark.java_gateway import ensure_callback_server_started

    # the JVM listener bus calls back into Python — same mechanism
    # foreachBatch uses; without this the bus logs "Connection refused"
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = SQLFlowListener(sink, output_dir, contracted)
    spark._jsparkSession.listenerManager().register(listener)
    return listener


#: reference conf prefix (listeners.scala:80-97): spark.sql.flow.Neo4jAuraSink.*
_NEO4J_CONF_PREFIX = "spark.sql.flow.Neo4jAuraSink"
#: file-sink confs (this package's analog of conf-driven listener setup)
_LISTENER_CONF_PREFIX = "spark.sql.flow.listener"


def register_from_conf(spark) -> SQLFlowListener | None:
    """Self-configure a lineage listener from session confs — the Python
    analog of ``spark.sql.queryExecutionListeners=...Neo4jAuraSQLFlowListener``
    (reference listeners.scala:79-97, README.md:242-249). A Python listener
    can't be instantiated BY the JVM conf machinery (it lives in this
    process), so ``get_session`` calls this hook instead; set

    - ``spark.sql.flow.Neo4jAuraSink.{uri,user,password}`` (+ optional
      ``.contracted``) for a Neo4j Aura sink, or
    - ``spark.sql.flow.listener.{sink,outputDir}`` (+ optional
      ``.contracted``) with sink a ``sinks.SINKS`` name (e.g. graphviz,
      adjacency, mermaid) for a file sink,

    and every successful query in the session is captured. Returns the
    registered listener, or None when neither conf group is present.
    Missing required keys within a selected group raise (reference
    getConf, listeners.scala:84-90)."""

    def conf(key, default=None):
        try:
            return spark.conf.get(key, default)
        except Exception:
            return default

    if conf(f"{_NEO4J_CONF_PREFIX}.uri") is not None:
        from ..sinks.neo4j import Neo4jAuraSink

        missing = [
            k
            for k in ("uri", "user", "password")
            if conf(f"{_NEO4J_CONF_PREFIX}.{k}") is None
        ]
        if missing:
            raise ValueError(
                f"Neo4j lineage listener needs {_NEO4J_CONF_PREFIX}."
                f"{{{','.join(missing)}}} to be specified"
            )
        sink = Neo4jAuraSink(
            conf(f"{_NEO4J_CONF_PREFIX}.uri"),
            conf(f"{_NEO4J_CONF_PREFIX}.user"),
            conf(f"{_NEO4J_CONF_PREFIX}.password"),
        )
        contracted = conf(f"{_NEO4J_CONF_PREFIX}.contracted", "false") == "true"
        # Neo4j appends straight over bolt — no output dir
        return register(spark, _Neo4jAppendAdapter(sink), "", contracted)

    sink_name = conf(f"{_LISTENER_CONF_PREFIX}.sink")
    if sink_name is not None:
        from ..sinks import SINKS

        if sink_name not in SINKS:
            raise ValueError(
                f"unknown {_LISTENER_CONF_PREFIX}.sink {sink_name!r}; "
                f"expected {sorted(SINKS)}"
            )
        out_dir = conf(f"{_LISTENER_CONF_PREFIX}.outputDir")
        if out_dir is None:
            raise ValueError(
                f"{_LISTENER_CONF_PREFIX}.outputDir needs to be specified"
            )
        contracted = conf(f"{_LISTENER_CONF_PREFIX}.contracted", "false") == "true"
        return register(spark, SINKS[sink_name](), out_dir, contracted)
    return None


class _Neo4jAppendAdapter:
    """Adapts Neo4jAuraSink.append(nodes, edges, options) to the file-sink
    append(nodes, edges, output_dir) signature the listener calls."""

    def __init__(self, sink):
        self.sink = sink

    def append(self, nodes, edges, _output_dir) -> None:
        self.sink.append(nodes, edges)


def unregister(spark, listener: SQLFlowListener) -> None:
    spark._jsparkSession.listenerManager().unregister(listener)


def wait_for_listener_bus(spark) -> None:
    """Flush pending listener events (thread boundary — see module doc)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
