"""Central operator registry.

Every operator from SURVEY.md §2 registers here via the ``@register``
decorator. ``__spark_entry__.py`` exposes the registry to the driver:
``queries()`` returns {name: callable(spark, sf_dir) -> DataFrame} and
``oracle_sql()`` returns {name: ANSI SQL} for the DuckDB hash-match.

Operators whose semantics are approximate / nondeterministic / not
ANSI-expressible register with ``oracle=None`` → the driver records a
weaker rows-only check (SURVEY.md §2, "ROWS" legend).

The order of ``queries()`` is the committed ``op_order.json``, written
by ``scripts/sweep_order.py`` — the one module that knows the
certification policy. This module only registers and loads.
"""

from __future__ import annotations

import functools
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_ORDER_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "op_order.json")


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    # helpers the registered plan lives in; scripts/sweep_order.py
    # folds their source into the op's plan fingerprint
    deps: tuple = ()


# Registration order. load_all() returns the sweep-ordered view.
REGISTRY: dict[str, Op] = {}

# --- op-scoped cache pool (round-6 ADVICE) -------------------------------
# Iterative ops persist() intermediates (k-means quantized form, BFS
# frontiers, triangle edge lists) whose lifetime must cover the CALLER's
# terminal action, so the op can never unpersist them itself. Persists
# enroll here and the NEXT op invocation (op calls are strictly
# sequential) releases them — always correctness-safe: a consumer that
# still holds the frame just recomputes its lineage.
_POOLED_CACHES: list[DataFrame] = []


def pool_persist(df: DataFrame) -> DataFrame:
    """persist() a frame and enroll it for release at the next op call."""
    df = df.persist()
    _POOLED_CACHES.append(df)
    return df


def release_pool() -> int:
    """Unpersist every pooled cache (called before each op invocation)."""
    n = 0
    while _POOLED_CACHES:
        df = _POOLED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def register(
    name: str,
    oracle: str | None = None,
    deps: tuple = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register an operator implementation under a stable SURVEY.md §2 key.

    deps: helpers the registered plan lives in (op264's apply_changes,
    op95's IVF index code). scripts/sweep_order.py folds their source into
    the op's plan fingerprint, so editing one re-fronts every op that
    declared it. Shallow: a dep's own callees are not traversed.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator key: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
            # pass-through for optional op parameters (op90's threaded
            # `plant` flag, r18-verdict item 7) — the registry contract
            # stays (spark, sf_dir); extras are the op's own business
            release_pool()
            return fn(spark, sf_dir, *args, **kwargs)

        REGISTRY[name] = Op(name=name, fn=wrapped, oracle=oracle, deps=deps)
        return wrapped

    return deco


def load_all() -> dict[str, Op]:
    """Import every operator module (side effect: fills REGISTRY) and
    return the registry in sweep order: the committed
    op_order.json, with keys it does not list (new, so uncertified)
    first in registration order."""
    from ocdb_server_spark.operators import (  # noqa: F401
        filters,
        sorting,
        setops,
        functions,
        windows,
        scans,
        aggregates,
        joins,
        relational_ext,
        pipeline_r2,
        pipeline_r3,
        pipeline_r4,
        pipeline_r4b,
        pipeline_r5,
        pipeline_r5b,
        pipeline_r6,
        pipeline_r7,
        pipeline_r8,
        pipeline_r10,
        pipeline_r12,
        pipeline_r13,
        pipeline_r14,
        multimodal_codecs,
        udfs,
        northstar,
        pipeline_ext,
        components,
        streaming_batch,
    )

    try:
        with open(_ORDER_PATH) as f:
            ranked = [k for k in json.load(f) if k in REGISTRY]
    except FileNotFoundError:
        ranked = []  # no committed order yet: registration order
    listed = set(ranked)
    new = [k for k in REGISTRY if k not in listed]
    return {k: REGISTRY[k] for k in new + ranked}
