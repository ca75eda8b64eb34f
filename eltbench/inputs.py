"""Seeded m33 input trees, the statement stream over them, and the closed-form
answers every timed call is checked against.

The trees are written with the repository's own fixture generator
(``scripts/gen_m33_fixture.gen_file``): 3 header lines per file, then one
`` <wavelength>  <flam>`` line per row, every value derived from integers.
For file ``(age, cp)`` row ``i``::

    wl_c   = 300000 + i
    flam_c = age * 7919 + wl_c * 31 + (104729 if cp else 0) + 100

(the generator's ``% 100_000_000`` never wraps for ages below 1000), so every
count and cent sum the engine returns has an exact closed form here.

The seed picks the two ages and every statement parameter. No draw changes
what a call costs: both ages give files of the same size, LIMIT fetches carry
no filter that decides how far a scan runs, and aggregates scan the whole
table whatever their predicate.
"""

from __future__ import annotations

import os
import random
import re
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from gen_m33_fixture import gen_file  # noqa: E402

PARTS = (("cp", 1), ("nocp", 0))
WL0 = 300_000
CP_OFFSET = 104_729
AGE_RE = re.compile(r"hmix\.a(\d+)")


@dataclass(frozen=True)
class Layout:
    """``replicas`` files of ``rows`` data rows per (partition, age) leaf."""

    rows: int
    replicas: int

    @property
    def total_rows(self) -> int:
        return len(PARTS) * 2 * self.replicas * self.rows


def draw_ages(seed: int) -> tuple[int, int]:
    return tuple(random.Random(seed).sample(range(10, 1000), 2))


def write_tree(out_dir: str, layout: Layout, ages: tuple[int, int]) -> None:
    for part, cp in PARTS:
        for age in ages:
            for r in range(layout.replicas):
                name = f"hmix.a{age:06d}z0790_f{r}"
                gen_file(os.path.join(out_dir, part, name), age, bool(cp), layout.rows)


def flam_c(age: int, wl_c: int, cp: int) -> int:
    return age * 7_919 + wl_c * 31 + CP_OFFSET * cp + 100


def group_sums(layout: Layout, age: int, cp: int, below: int | None = None) -> tuple[int, int, int]:
    """(rows, wavelength cents, flam cents) of leaf ``(age, cp)``, restricted
    to rows with ``wl_c < below`` when given."""
    k = layout.rows if below is None else max(0, min(layout.rows, below - WL0))
    wl = k * WL0 + k * (k - 1) // 2
    fl = k * (age * 7_919 + CP_OFFSET * cp + 100) + 31 * wl
    r = layout.replicas
    return r * k, r * wl, r * fl


def cents(x: float) -> int:
    return int(round(x * 100))


def row_ok(layout: Layout, ages, age: int, wavelength: float, flam: float, cp: int) -> bool:
    """One typed row is a row the generator wrote."""
    wl = cents(wavelength)
    return (
        age in ages
        and cp in (0, 1)
        and WL0 <= wl < WL0 + layout.rows
        and cents(flam) == flam_c(age, wl, cp)
    )


# -- checks of the pipeline steps ------------------------------------------

TABLE_SUMS_SQL = (
    "SELECT age_mil, is_peculiar, count(*) AS n, "
    "sum(CAST(round(wavelength * 100) AS BIGINT)) AS wl, "
    "sum(CAST(round(flam * 100) AS BIGINT)) AS fl "
    "FROM m33 GROUP BY age_mil, is_peculiar"
)


def expected_table_sums(layout: Layout, ages) -> dict[tuple[int, int], tuple[int, int, int]]:
    return {(a, cp): group_sums(layout, a, cp) for a in ages for _, cp in PARTS}


def check_table_sums(rows, layout: Layout, ages) -> bool:
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}
    return got == expected_table_sums(layout, ages)


def check_export(count: int, layout: Layout) -> bool:
    return count == layout.total_rows


# -- the interactive statement stream --------------------------------------

TEMPLATES = ("raw_fetch", "raw_field", "table_fetch", "table_agg")
# One block of the stream. Weights 1:1:3:1 and the templates' cost order
# table_fetch < raw_field < raw_fetch < table_agg put the stream's p50 inside
# raw_fetch's walls (the reference's own verification statement) and its p90
# inside table_agg's, rather than on the gap between two templates, where a
# percentile jumps from run to run.
MIX = ("table_fetch", "raw_field") + ("raw_fetch",) * 3 + ("table_agg",)
BLOCK = len(MIX)


@dataclass(frozen=True)
class Statement:
    template: str
    sql: str
    params: tuple


def statement(template: str, rng: random.Random, layout: Layout) -> Statement:
    n = rng.randint(50, 150)
    if template == "raw_fetch":
        return Statement(template, f"SELECT TOP {n} * FROM m33_schem", (n,))
    if template == "raw_field":
        part = rng.choice(PARTS)[0]
        sql = (
            "SELECT field(peculiarity, 'nocp', 'cp') AS f, INPUT__FILE__NAME AS src, "
            f"row_str FROM m33_raw WHERE peculiarity = '{part}' LIMIT {n}"
        )
        return Statement(template, sql, (n, part))
    if template == "table_fetch":
        return Statement(template, f"SELECT * FROM m33 LIMIT {n}", (n,))
    below = WL0 + rng.randrange(layout.rows + 1)
    sql = (
        "SELECT age_mil, is_peculiar, count(*) AS n, "
        "sum(CAST(round(flam * 100) AS BIGINT)) AS fl FROM m33 "
        f"WHERE wavelength < {below / 100:.2f} GROUP BY age_mil, is_peculiar"
    )
    return Statement(template, sql, (below,))


def stream(seed: int, layout: Layout, blocks: int):
    """``blocks`` blocks of :data:`MIX` in seeded order, so every seed runs
    the same template mix."""
    rng = random.Random(seed * 7_919 + 1)
    for _ in range(blocks):
        order = list(MIX)
        rng.shuffle(order)
        for template in order:
            yield statement(template, rng, layout)


def check_statement(stmt: Statement, rows, layout: Layout, ages) -> bool:
    t, p = stmt.template, stmt.params
    if t in ("raw_fetch", "table_fetch"):
        return len(rows) == p[0] and all(row_ok(layout, ages, *r) for r in rows)
    if t == "raw_field":
        n, part = p
        cp = dict(PARTS)[part]
        want_f = 2 if cp else 1
        for f, src, row_str in rows:
            m = AGE_RE.search(src)
            wl, fl = row_str.split()
            if f != want_f or m is None or not row_ok(layout, ages, int(m.group(1)), float(wl), float(fl), cp):
                return False
        return len(rows) == n
    want = {}
    for a in ages:
        for _, cp in PARTS:
            cnt, _, fl = group_sums(layout, a, cp, below=p[0])
            if cnt:
                want[(a, cp)] = (cnt, fl)
    return {(r[0], r[1]): (r[2], r[3]) for r in rows} == want
