"""Workload definitions: pinned query samples and the statement generator.

Every workload is a closed loop with one client. A run executes whole
passes over the workload's fixed batch. The first pass is a cold
warm-up that runs the registered queries in pinned order, because which
query pays the cold start and fills the shared memos moves it by a
fifth; the passes that follow (more warm-up, then the timed ones) run in
an order drawn from the seed.
Samples are pinned by name, never by position in ``ALL_QUERIES``, whose
order the registry's priority list changes from commit to commit.
"""

from __future__ import annotations

import importlib
import math
import random
from dataclasses import dataclass

WORKLOADS = ("sql_interactive", "batch_operators")

# A pass of sql_interactive runs one generated dialect statement per
# slot beside the registered SQL sample. A slot fixes the table (or FK
# join), the shape and the result size it aims at; the seed picks the
# columns, aggregates, predicate key, direction and a literal within a
# factor of two of that size. Every pass thus costs about the same
# whatever the seed, while results still range from 1 to 10^4 rows.
# Each (one table | two tables) x shape stratum has one slot.
SLOTS = (
    (("lineitem",), "aggregate", 0.5),
    (("customer",), "projection", 1000),
    (("events",), "distinct", 0.05),
    (("lineitem", "part"), "aggregate", 0.1),
    (("lineitem", "orders"), "projection", 5000),
    (("orders", "customer"), "distinct", 0.2),
)

# sql_interactive's registered queries: the first of every nine entries
# of the 45 SQL-surface queries (flagship, parity_*, tpch_*) in registry
# module order.
SQL_REGISTERED = (
    "flagship",
    "parity_filter_and",
    "parity_agg_sum",
    "tpch_q11",
    "tpch_q10",
)

# batch_operators: every sixteenth entry, from the ninth on, of the
# systematic sample "first of every four entries of each batch pack's
# QUERIES, in registry module order" (stream, parity, flagship and
# TPC-H excluded; see systematic_batch_sample), less
# ext_hilbert_clustering, whose 10-13 s alone would fill half the run ...
BATCH_SAMPLE = (
    "ext_sim_bruteforce_topk",
    "ext_dedup_windowed",
    "ext_anti_join",
    "ext_mann_whitney",
    "ext_benford_audit",
)
BATCH_EXCLUDED = ("ext_hilbert_clustering",)
# ... plus the first stream replay in registry order.
STREAM_SAMPLE = ("stream_tumbling_counts",)

# Untimed warm-up passes, the cold one included, and the timed passes
# after them, whose best the metrics take. Queries got about a fifth
# faster from the second pass to the third (JIT, Python workers). More
# passes would steady the figures further but push a run past the time
# the benchmark can spend on it.
WARMUP_PASSES = {"sql_interactive": 2, "batch_operators": 2}
TIMED_PASSES = {"sql_interactive": 3, "batch_operators": 3}

REGISTERED = {
    "sql_interactive": SQL_REGISTERED,
    "batch_operators": BATCH_SAMPLE + STREAM_SAMPLE,
}


def sql_surface() -> list[str]:
    """The registered SQL-surface queries in registry module order."""
    from mini_sql_engine_spark.operators import _MODULE_NAMES

    return [
        n
        for mod_name in _MODULE_NAMES
        for n in importlib.import_module(mod_name).QUERIES
        if n == "flagship" or n.startswith(("parity_", "tpch_"))
    ]


def systematic_batch_sample() -> list[str]:
    """The systematic batch sample the pinned names were cut from: the
    first of every four entries of each batch pack, in module order.
    Kept so the pin can be re-derived and checked."""
    from mini_sql_engine_spark.operators import _MODULE_NAMES

    out: list[str] = []
    for mod_name in _MODULE_NAMES:
        names = [
            n
            for n in importlib.import_module(mod_name).QUERIES
            if not n.startswith(("stream_", "parity_", "tpch_")) and n != "flagship"
        ]
        out += names[::4]
    return out


@dataclass(frozen=True)
class Item:
    """One query of a pass: a registered name or a dialect statement."""

    kind: str  # "registered" | "statement"
    text: str  # query name, or the statement text
    key: str  # the same in every pass: query name, or slot number


# Integer and double columns the generator may filter, project or
# aggregate, per table. Integer columns come first; SUM and AVG only
# take integer columns, whose sums are exact in every engine.
_INT_COLS = {
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey", "p_size"),
    "nation": ("n_nationkey", "n_regionkey"),
    "events": ("event_id", "user_id"),
}
_DOUBLE_COLS = {
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount"),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
    "events": ("value",),
}
# High-cardinality keys for range predicates, so ties stay few and a
# projection's row count stays close to its target.
_KEY_COLS = {
    "lineitem": ("l_orderkey", "l_partkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "events": ("event_id", "user_id"),
}
# Low-cardinality columns for DISTINCT projections.
_LOWCARD_COLS = {
    "lineitem": ("l_returnflag", "l_linestatus", "l_linenumber"),
    "orders": ("o_orderstatus", "o_orderpriority"),
    "customer": ("c_mktsegment", "c_nationkey"),
    "supplier": ("s_nationkey",),
    "part": ("p_brand", "p_size"),
    "nation": ("n_regionkey",),
    "events": ("event_type",),
}
# (fact table, dimension table) -> (fact FK column, dimension key column).
_FK_JOINS = {
    ("lineitem", "orders"): ("l_orderkey", "o_orderkey"),
    ("lineitem", "part"): ("l_partkey", "p_partkey"),
    ("lineitem", "supplier"): ("l_suppkey", "s_suppkey"),
    ("orders", "customer"): ("o_custkey", "c_custkey"),
    ("customer", "nation"): ("c_nationkey", "n_nationkey"),
    ("supplier", "nation"): ("s_nationkey", "n_nationkey"),
}
MAX_RESULT_ROWS = 10_000


class StatementGenerator:
    """Seeded reference-dialect statements for the slots in ``SLOTS``.

    The predicate is a range on an integer key of the slot's first
    (fact) table whose literal is read off the data, so it matches a
    known number of rows: a projection's result size, or for an
    aggregate or DISTINCT the share of the fact table it reads.
    """

    def __init__(self, seed: int, oracle) -> None:
        self.rng = random.Random(seed)
        self.oracle = oracle
        self._counts: dict[str, int] = {}

    def _rows(self, table: str) -> int:
        if table not in self._counts:
            self._counts[table] = int(self.oracle.scalar(f"SELECT count(*) FROM {table}"))
        return self._counts[table]

    def _predicate(self, table: str, target_rows: int) -> str:
        """``table.col <= L`` or ``>= L`` matching at least ``target_rows``."""
        col = self.rng.choice(_KEY_COLS[table])
        n = self._rows(table)
        target = max(1, min(target_rows, n))
        if self.rng.random() < 0.5:
            op, order, offset = "<=", "ASC", target - 1
        else:
            op, order, offset = ">=", "DESC", target - 1
        lit = self.oracle.scalar(
            f"SELECT {col} FROM {table} ORDER BY {col} {order} LIMIT 1 OFFSET {offset}"
        )
        return f"{table}.{col} {op} {int(lit)}"

    def statement(self, tables: tuple[str, ...], shape: str, size: float) -> str:
        """One statement for a slot. ``size`` is the result rows of a
        projection, or the share of the fact table's rows an aggregate or
        DISTINCT reads; the seed moves it by up to a factor of two."""
        rng = self.rng
        fact = tables[0]
        rows = size if shape == "projection" else size * self._rows(fact)
        target = int(round(rows * math.exp(rng.uniform(-math.log(2), math.log(2)))))
        if shape == "projection":
            target = min(target, MAX_RESULT_ROWS)
        if shape == "aggregate":
            items = []
            for _ in range(rng.randint(1, 3)):
                t = rng.choice(tables)
                agg = rng.choice(("MAX", "MIN", "SUM", "AVG", "COUNT", "COUNT DISTINCT"))
                pool = _INT_COLS[t] if agg in ("SUM", "AVG") else _INT_COLS[t] + _DOUBLE_COLS.get(t, ())
                col = f"{t}.{rng.choice(pool)}"
                items.append(
                    f"COUNT(DISTINCT {col})" if agg == "COUNT DISTINCT" else f"{agg}({col})"
                )
            select = ", ".join(dict.fromkeys(items))
        elif shape == "distinct":
            cols = [f"{t}.{c}" for t in tables for c in _LOWCARD_COLS.get(t, ())]
            chosen = rng.sample(cols, k=min(len(cols), rng.randint(1, 2)))
            select = "DISTINCT " + ", ".join(chosen)
        else:
            cols = [
                f"{t}.{c}"
                for t in tables
                for c in _INT_COLS[t] + _DOUBLE_COLS.get(t, ())
            ]
            select = ", ".join(rng.sample(cols, k=min(len(cols), rng.randint(1, 3))))
        where = self._predicate(fact, target)
        if len(tables) == 2:
            fk, pk = _FK_JOINS[tables]
            where = f"{fact}.{fk} = {tables[1]}.{pk} AND {where}"
        return f"SELECT {select} FROM {', '.join(tables)} WHERE {where};"


def pass_items(
    workload: str, rng: random.Random, gen: StatementGenerator, cold: bool, limit: int | None = None
) -> list[Item]:
    """One pass: the pinned registered queries and, for sql_interactive,
    a freshly generated statement per slot. The cold pass keeps the
    pinned order (the statements follow, slot by slot); a timed pass is
    shuffled. ``limit`` keeps the first names and slots, for the smoke
    check."""
    names = list(REGISTERED[workload])
    slots = SLOTS if workload == "sql_interactive" else ()
    if limit is not None:
        names = list(dict.fromkeys(names[:limit] + [n for n in STREAM_SAMPLE if n in names]))
        slots = slots[:limit]
    items = [Item("registered", n, n) for n in names]
    items += [Item("statement", gen.statement(*slot), f"slot{i}") for i, slot in enumerate(slots)]
    if not cold:
        rng.shuffle(items)
    return items
