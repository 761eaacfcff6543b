"""Central query registry: name -> (spark_fn, oracle_sql).

`__spark_entry__.py` exposes this to the driver. Every operator claimed
done in SURVEY.md §2 registers here; oracle_sql=None means the driver
records a weaker rows-only check (reserved for genuinely
non-SQL-expressible ops such as hash-seeded LSH).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle)
        return fn

    return deco


# Correctness runs sample a prefix of the registry, so the order puts the
# names with the least recorded evidence first: names with no passing row
# in any CORRECTNESS_r<N>.json ledger at the repo root lead, then the rest
# by the round of their newest passing row, oldest first. Import order
# breaks ties, and is the whole order when no ledger is present. Pure
# ordering: every query stays registered and runnable.
_LEDGER = re.compile(r"CORRECTNESS_r(\d+)\.json")
_ROOT = Path(__file__).resolve().parent.parent


def _passed(row: dict) -> bool:
    """A ledger row that passed the oracle check: rows, schema and
    value hash match the oracle, or, for a query registered without an
    oracle, the rows-only check returned rows."""
    if row.get("err") == "no_oracle":
        return bool(row.get("spark_rows"))
    return all(
        row.get(k) is True for k in ("rows_match", "schema_match", "hash_match")
    )


def evidence_order(names: list[str]) -> list[str]:
    newest: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = _LEDGER.fullmatch(path.name)
        if m is None:
            continue
        for name, row in json.loads(path.read_text()).items():
            if _passed(row):
                newest[name] = max(newest.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: newest.get(n, 0))


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY), then
    order the mapping by ``evidence_order``."""
    import streams_spark.operators.verbs  # noqa: F401
    import streams_spark.operators.relational  # noqa: F401
    import streams_spark.operators.tpch_extra  # noqa: F401
    import streams_spark.operators.windowed  # noqa: F401
    import streams_spark.operators.dedup  # noqa: F401
    import streams_spark.operators.similarity  # noqa: F401
    import streams_spark.operators.text  # noqa: F401
    import streams_spark.operators.multimodal  # noqa: F401
    import streams_spark.operators.streaming_queries  # noqa: F401
    import streams_spark.operators.pipeline  # noqa: F401

    return {n: REGISTRY[n] for n in evidence_order(list(REGISTRY))}
