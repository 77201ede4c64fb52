"""Operator/query registry.

Every engine capability from SURVEY.md §2 registers here as a named
query: a callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL.
``__spark_entry__.py`` exposes the registry to the verify driver;
tests run the same differential comparison locally.

Conventions (binding — the driver hash-compares by column name):
- every computed/aggregate column is aliased identically in the Spark
  code and the oracle SQL;
- every LIMIT query orders by a deterministic unique tiebreaker;
- timestamps compare at µs precision (oracle literals are
  ``TIMESTAMP '...'``, never ``DATE``);
- queries with no oracle entry (sketches, sinks, partitioning,
  streaming) get the driver's weaker rows-only check and carry an
  invariant-style pytest instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL, or None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)

    @property
    def doc(self) -> str:
        return (self.fn.__doc__ or "").strip()


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register an operator query. ``oracle`` is DuckDB SQL or None."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def interpolate_docstrings(module_globals: dict) -> None:
    """Replace ``{_CONST}``-style placeholders in the module's operator
    docstrings with the constants' values (ADVICE r08: plain docstrings
    otherwise show readers of ``help()`` the literal braces). Call once
    at the bottom of an operator module:
    ``interpolate_docstrings(globals())``. Placeholders are evaluated
    against the module globals (so ``{_BITS // _WORD}`` works).
    ``{{...}}`` is an ESCAPE that collapses to single braces — use it
    for intentional brace text like set notation (ADVICE r09: the
    ``{{0: idle, ...}}`` state-map in stream_jobs previously matched
    the inner-brace regex and rendered doubled in ``help()``). A
    placeholder that LOOKS like a module-constant reference
    (``{_UPPER_SNAKE...}``) but fails to evaluate raises — a typoed
    constant name must fail at import, not ship verbatim braces;
    anything else that fails to evaluate is left untouched."""
    import re
    import types

    def _sub(doc: str, owner: str) -> str:
        def repl(m: re.Match) -> str:
            expr, _, spec = m.group(1).partition(":")
            try:
                val = eval(expr, module_globals)  # noqa: S307
                return format(val, spec) if spec else str(val)
            except Exception:
                if re.match(r"^_[A-Z][A-Z0-9_]*$", expr.strip()):
                    raise NameError(
                        f"docstring of {owner!r} references unknown module "
                        f"constant {{{expr}}} — typo, or constant removed?"
                    ) from None
                return m.group(0)

        # Escapes first: {{...}} → a placeholder token no brace regex
        # can see, restored as single braces at the end.
        doc = doc.replace("{{", "\x00").replace("}}", "\x01")
        doc = re.sub(r"\{([^{}]+)\}", repl, doc)
        return doc.replace("\x00", "{").replace("\x01", "}")

    for obj in list(module_globals.values()):
        if isinstance(obj, types.FunctionType) and obj.__doc__ and "{" in obj.__doc__:
            if obj.__globals__ is module_globals:
                obj.__doc__ = _sub(obj.__doc__, obj.__qualname__)


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run, then return
    the registry. An import error in any module propagates: callers
    (the driver entry points in ``__spark_entry__.py``) must never run
    on a partial registry, where missing queries would look like an
    absent surface instead of a broken one."""
    import importlib

    modules = [
        "hadoop_based_distributed_batch_processing_system_spark.operators.scans",
        "hadoop_based_distributed_batch_processing_system_spark.operators.filters",
        "hadoop_based_distributed_batch_processing_system_spark.operators.joins",
        "hadoop_based_distributed_batch_processing_system_spark.operators.aggregates",
        "hadoop_based_distributed_batch_processing_system_spark.operators.windows",
        "hadoop_based_distributed_batch_processing_system_spark.operators.sorts",
        "hadoop_based_distributed_batch_processing_system_spark.operators.setops",
        "hadoop_based_distributed_batch_processing_system_spark.operators.udf_surface",
        "hadoop_based_distributed_batch_processing_system_spark.operators.sampling",
        "hadoop_based_distributed_batch_processing_system_spark.operators.analytics",
        "hadoop_based_distributed_batch_processing_system_spark.operators.dedup",
        "hadoop_based_distributed_batch_processing_system_spark.operators.similarity",
        "hadoop_based_distributed_batch_processing_system_spark.operators.text",
        "hadoop_based_distributed_batch_processing_system_spark.operators.multimodal",
        "hadoop_based_distributed_batch_processing_system_spark.operators.features",
        "hadoop_based_distributed_batch_processing_system_spark.operators.graph",
        "hadoop_based_distributed_batch_processing_system_spark.operators.lakehouse",
        "hadoop_based_distributed_batch_processing_system_spark.operators.edge_types",
        "hadoop_based_distributed_batch_processing_system_spark.mr_compat",
        "hadoop_based_distributed_batch_processing_system_spark.functions.scalar",
        "hadoop_based_distributed_batch_processing_system_spark.streaming.event_time",
        "hadoop_based_distributed_batch_processing_system_spark.streaming.stream_jobs",
    ]
    for mod in modules:
        importlib.import_module(mod)
    return REGISTRY
