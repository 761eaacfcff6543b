"""Correctness checks, run outside the timed window.

Query rows are compared with their DuckDB `oracle_sql` over the same
generated tables, with the normalize/compare semantics of
tools/check_oracle.py. The ingest loop has its own invariants
(chunk_problems, ingest_problems).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa

from perfbench.gen import ROWS

TABLES = ["region", "nation", *ROWS]


def arrow_to_pandas(tbl: pa.Table) -> pd.DataFrame:
    """The pandas frame Spark's toPandas would give for this collect:
    timestamps as naive UTC (the session time zone)."""
    df = tbl.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


class Oracle:
    """DuckDB views over one generated table directory, with the
    oracle result of each query computed once."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self._memo: dict[str, pd.DataFrame] = {}

    def result(self, name: str, sql: str) -> pd.DataFrame:
        if name not in self._memo:
            self._memo[name] = self.con.sql(sql).fetchdf()
        return self._memo[name]

    def close(self) -> None:
        self.con.close()


def ingest_problems(
    violations: list[tuple[str, str, int]],
    generated: int,
    committed: int,
    delivered: list[tuple[str, str, int]],
    tails: dict[tuple[str, str], int],
    peeked: dict[tuple[str, str], int],
) -> list[str]:
    """The four ingest invariants: gapless sequences, every generated
    record committed, every committed record delivered exactly once,
    and peek returning the generator's tail of each segment."""
    problems = []
    bad = [v for v in violations if v[2]]
    if bad:
        problems.append(f"{len(bad)} segments with sequence violations, e.g. {bad[:3]}")
    if committed != generated:
        problems.append(f"committed {committed} records, generated {generated}")
    keys = set(delivered)
    if len(keys) != len(delivered):
        problems.append(f"{len(delivered) - len(keys)} records delivered more than once")
    if len(keys) != generated:
        problems.append(f"delivered {len(keys)} distinct records, generated {generated}")
    wrong = {k: (v, peeked.get(k)) for k, v in tails.items() if peeked.get(k) != v}
    if wrong:
        problems.append(f"peek disagrees with the generator on {len(wrong)} segments, e.g. {list(wrong.items())[:3]}")
    return problems


def chunk_problems(
    expect: set[tuple[str, str, int]],
    committed: int,
    delivered: list[tuple[str, str, int]],
    read_space: str,
    read: list[tuple[str, str, int]],
    peeked_sequence: int | None,
    tail: int,
) -> list[str]:
    """One ingest op: the SegmentStatus rows count the chunk, the
    consumer delivered exactly the chunk's records once each, the
    resumed consume_space returned exactly the chunk's records of the
    read space, and peek returned the hottest segment's tail."""
    problems = []
    if committed != len(expect):
        problems.append(f"status counts {committed} records, chunk has {len(expect)}")
    if len(delivered) != len(set(delivered)) or set(delivered) != expect:
        problems.append(
            f"delivered {len(delivered)} records ({len(set(delivered))} distinct), "
            f"chunk has {len(expect)}"
        )
    expect_read = {k for k in expect if k[0] == read_space}
    if len(read) != len(set(read)) or set(read) != expect_read:
        problems.append(f"read {len(read)} records, expected {len(expect_read)}")
    if peeked_sequence != tail:
        problems.append(f"peek returned sequence {peeked_sequence}, tail is {tail}")
    return problems
