"""Which program calls a traced run wraps, one group per layer.

Layer names follow the package's modules. Every wrapper is installed from
here, on module or class attributes, so the program's own files stay as
they are.
"""

from __future__ import annotations

import inspect
import itertools
import os

from spans import Tracer

_rids = itertools.count(1)


def _plan_phases(span, args, kwargs, result) -> None:
    """Optimizer and physical-planning time of the frame just collected."""
    try:
        phases = args[0]._jdf.queryExecution().tracker().phases()
        span["plan_s"] = sum(
            phases.get(p).get().durationMs() / 1e3
            for p in ("optimization", "planning")
            if phases.get(p).isDefined()
        )
    except Exception:
        span["plan_s"] = 0.0


def install_spark(tr: Tracer) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    tr.wrap(DataFrame, "toPandas", "spark.collect", group=True, on_call=_plan_phases)
    tr.wrap(DataFrame, "collect", "spark.collect", group=True, on_call=_plan_phases)


def install_rest(tr: Tracer) -> None:
    """Router.handle opens a request (its own span tree and job group);
    the schema, engine and time-series operator calls it makes nest
    under it."""
    from nibbledb_spark import rest
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.operators import timeseries

    def request_done(span, args, kwargs, result):
        span["method"], span["path"] = args[1], args[2]
        span["status"] = result[0] if result else 599

    def flushed(span, args, kwargs, result):
        span["points"] = len(args[2])

    tr.wrap(rest.Router, "handle", "rest.handle", group=True, rid=lambda a: next(_rids), on_call=request_done)
    tr.wrap(rest, "validate_points", "schema.validate_points")
    tr.wrap(rest.Router, "_flush_rows", "rest.flush", on_call=flushed)
    for name in ("last", "first", "since", "range"):
        tr.wrap(TimeSeriesEngine, name, "engine.read_build")
    tr.wrap(TimeSeriesEngine, "aggregate_range", "engine.aggregate_range", group=True)
    tr.wrap(TimeSeriesEngine, "append_points", "engine.append_points", group=True)
    tr.wrap(timeseries, "tag_filter", "operators.timeseries.tag_filter")
    tr.wrap(timeseries, "aggregate_result", "operators.timeseries.aggregate", group=True)


def _wrap_module_functions(tr: Tracer, module, layer: str) -> None:
    for name, fn in list(vars(module).items()):
        if inspect.isfunction(fn) and fn.__module__ == module.__name__ and not name.startswith("_"):
            tr.wrap(module, name, f"{layer}.{name}", group=True)


def install_queries(tr: Tracer) -> None:
    """Declared queries, the table registry and the dedup/similarity
    operators they compose."""
    from nibbledb_spark import queries
    from nibbledb_spark.operators import dedup, similarity, timeseries
    from nibbledb_spark.sources import registry

    for name in list(queries.QUERIES):
        tr.wrap(queries.QUERIES, name, f"queries.{name}")

    def cache_before(args, kwargs):
        spark, name = args[0], args[1]
        sf_dir = args[2] if len(args) > 2 else kwargs.get("sf_dir", registry.DEFAULT_SF_DIR)
        held = registry._TABLE_CACHE.get((id(spark), os.path.abspath(sf_dir), name))
        return {"_held": held[1] if held else None}

    def cache_after(span, args, kwargs, result):
        span["cache_hit"] = result is not None and span.pop("_held") is result

    tr.wrap(registry, "load_table", "sources.registry.load_table", pre=cache_before, on_call=cache_after)
    _wrap_module_functions(tr, dedup, "operators.dedup")
    _wrap_module_functions(tr, similarity, "operators.similarity")
    tr.wrap(timeseries, "aggregate_result", "operators.timeseries.aggregate", group=True)
