"""Seeded request streams and the frozen load parameters.

Everything a workload sends is a pure function of ``--seed`` (and of the
window length for the open loop), so two runs with one seed send the same
statements at the same offsets.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SF = 0.1                 # warehouse scale factor of every workload
CONNECTIONS = 4          # served-interactive client connections (<= nproc)
# Open-loop arrival rate of served-interactive, frozen at about half the
# seed's closed-loop capacity for the same mix on a 4-core host
# (4 connections).
INTERACTIVE_RATE = 1.5   # requests per second
# Latency limits for slo_attainment, per workload (seconds).
SLO_S = {"served-interactive": 3.0, "embedded-catalog": 4.0}

# Small-result headline rows whose ORACLE DuckDB SQL is served verbatim.
CATALOG_ROWS = (
    "q01_pricing_summary", "t03_shipping_priority",
    "t05_region_supplier_volume", "t10_returned_items",
    "j01_inner_join", "a06_cube",
)
# Share of each request class in the open-loop mix. The shares are chosen,
# not observed: the project records no production traffic (its soak test
# sends equal fifths of stress shapes). class_counts turns them into
# whole requests per run.
MIX = (("catalog", 0.20), ("point", 0.35), ("prepared", 0.15),
       ("meta", 0.10), ("probe", 0.20))
# Statement shapes per class, taken in turn.
_SHAPES = {"catalog": len(CATALOG_ROWS), "point": 4, "probe": 2,
           "prepared": 1, "meta": 2}
# The closed-loop batch after the window, sent back to back by one client
# (throughput_rps): every catalog statement once (the served catalog pass,
# pass_s) and this many requests of each other class. One client, because
# four compete for the host's four cores with whatever else runs there.
BATCH = {"point": 4, "prepared": 2, "meta": 1, "probe": 3}
PREPARED_SQL = ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
                "WHERE o_orderkey = ?")


@dataclass(frozen=True)
class Request:
    kind: str            # sql | prepared | tables | sql_info
    cls: str             # the class it was drawn from (reporting only)
    sql: str = ""
    params: tuple = ()

    @property
    def key(self) -> tuple:
        return (self.kind, self.sql, self.params)


def _sizes(sf: float) -> dict[str, int]:
    return {"orders": max(100, int(1_500_000 * sf)),
            "customer": max(10, int(150_000 * sf)),
            "part": max(10, int(200_000 * sf))}


def _point(rng: random.Random, n: dict[str, int], shape: int) -> str:
    if shape == 0:
        k = rng.randrange(n["orders"])
        return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderdate FROM orders WHERE o_orderkey = {k}")
    if shape == 1:
        a = rng.randrange(n["orders"] - 200)
        return ("SELECT count(*) AS n, CAST(sum(CAST(l_extendedprice AS "
                "DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem "
                f"WHERE l_orderkey BETWEEN {a} AND {a + 200}")
    if shape == 2:
        a = rng.randrange(n["customer"] - 25)
        return ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM "
                f"customer WHERE c_custkey BETWEEN {a} AND {a + 25} "
                "ORDER BY c_custkey")
    k = rng.randrange(n["part"])
    return ("SELECT p_partkey, p_name, p_brand, p_retailprice FROM part "
            f"WHERE p_partkey = {k}")


# The exports of the closed-loop export phase: one client, back to back.
# Each shape's literal is seeded within a range that keeps its row count
# nearly fixed at sf0.1 (o_totalprice is uniform on [1e3, 5e5], l_quantity
# on 1..50), so seeds differ in literals, not in how many bytes they move.
EXPORTS = (
    # 1.43e5..1.5e5 rows of orders (about 3.5 MB of Arrow)
    ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, "
     "o_orderpriority FROM orders WHERE o_totalprice >= {}", (1000.0, 25000.0)),
    # 5.76e5..6e5 rows of lineitem (about 30 MB of Arrow)
    ("SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
     "l_discount, l_shipdate FROM lineitem WHERE l_quantity >= {}", (1, 3)),
)
# The literal of each export shape that the warm-up sends: a few rows, the
# same plan.
_EXPORT_WARM = (490000.0, 50)


def _draw(rng: random.Random, lo, hi):
    if isinstance(lo, int):
        return rng.randint(lo, hi)
    return round(rng.uniform(lo, hi), 2)


def _new(rng: random.Random, cls: str, shape: int, sizes: dict[str, int]) -> Request:
    if cls == "point":
        return Request("sql", cls, _point(rng, sizes, shape))
    if cls == "probe":
        return Request("sql", cls, f"SELECT {rng.randrange(1000)} AS v"
                       if shape else "SELECT 1")
    if cls == "prepared":
        return Request("prepared", cls, PREPARED_SQL,
                       (rng.randrange(sizes["orders"]),))
    return Request(("tables", "sql_info")[shape], cls)


def class_counts(n: int) -> dict[str, int]:
    """Requests per class among ``n``: the catalog class in whole cycles
    over CATALOG_ROWS (at least one, at most ``n``), the other classes
    share the rest by their MIX weights (largest remainder)."""
    k = len(CATALOG_ROWS)
    weights = dict(MIX)
    cat = min(n, max(k, round(n * weights.pop("catalog") / k) * k))
    total = sum(weights.values())
    exact = {c: (n - cat) * w / total for c, w in weights.items()}
    counts = {c: int(x) for c, x in exact.items()}
    for c in sorted(exact, key=lambda c: counts[c] - exact[c])[:n - cat - sum(counts.values())]:
        counts[c] += 1
    return {"catalog": cat, **counts}


def interactive_schedule(seed: int, seconds: float, oracle: dict[str, str],
                         sf: float = SF) -> list[tuple[float, Request]]:
    """``INTERACTIVE_RATE * seconds`` arrivals at seeded times over the
    window (a Poisson process conditioned on its count, so every run sends
    the same number); class counts follow MIX (then shuffled). Within a
    class the statement shapes take turns (catalog rows in a seeded
    order), so runs differ in literals and timing, not in how much work
    they send; every other draw repeats an earlier statement of its shape
    verbatim with probability one half."""
    rng = random.Random(seed)
    n = max(1, round(INTERACTIVE_RATE * seconds))
    dues = sorted(rng.uniform(0.0, seconds) for _ in range(n))
    classes = [c for c, m in class_counts(n).items() for _ in range(m)]
    rng.shuffle(classes)
    rows = list(CATALOG_ROWS)
    rng.shuffle(rows)
    sizes = _sizes(sf)
    turns = {c: 0 for c, _ in MIX}
    seen: dict[tuple, list[Request]] = {}
    out = []
    for due, cls in zip(dues, classes):
        shape = turns[cls] % _SHAPES[cls]
        turns[cls] += 1
        if cls == "catalog":
            req = Request("sql", cls, oracle[rows[shape]])
        elif seen.get((cls, shape)) and rng.random() < 0.5:
            req = rng.choice(seen[cls, shape])
        else:
            req = _new(rng, cls, shape, sizes)
        seen.setdefault((cls, shape), []).append(req)
        out.append((due, req))
    return out


def closed_batch(seed: int, oracle: dict[str, str], sf: float = SF) -> list[Request]:
    """The closed-loop batch: each catalog statement once, then BATCH
    requests per class, shapes in turn, fresh literals; in a seeded
    order."""
    rng = random.Random(seed * 7919 + 1)
    sizes = _sizes(sf)
    out = [Request("sql", "catalog", oracle[n]) for n in CATALOG_ROWS]
    out += [_new(rng, cls, i % _SHAPES[cls], sizes)
            for cls, m in BATCH.items() for i in range(m)]
    rng.shuffle(out)
    return out


def export_batch(seed: int, warm: bool = False) -> list[Request]:
    """One export per shape of EXPORTS, smallest first; ``warm`` gives the
    warm-up's few-row variants."""
    rng = random.Random(seed * 7919 + 2)
    if warm:
        return [Request("sql", "export", sql.format(v))
                for (sql, _), v in zip(EXPORTS, _EXPORT_WARM)]
    return [Request("sql", "export", sql.format(_draw(rng, *bounds)))
            for sql, bounds in EXPORTS]


def catalog_order(seed: int, names: list[str]) -> list[str]:
    """The embedded pass order: the headline rows in a seeded order."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
