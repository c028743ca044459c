"""Workload pools and the seeded statement sequence.

A workload's candidates are the registered queries (`workloads.all_queries()`)
of its families.  `survey.py` measures each candidate once and freezes the
pool in `pools.json`: every candidate it keeps, with its family and its
reference time (its warm noop wall on a 4-vCPU host), and every one it
leaves out, with the reason.  The pool changes only when the survey is run
again, so a query registered later does not change what is measured.

The sequence of a run is drawn from the seed, stratified by reference
time: the pool, ranked by reference time, is cut into bands of equal
size, and one statement is drawn from each.  Every run then samples
fast, middling and slow statements alike, so the median of a run moves
with the engine more than with the draw.  The runner repeats the
sequence until its time is up, and draws are made with replacement from
run to run, the way a dashboard refreshes.
"""

from __future__ import annotations

import inspect
import json
import random
import re
from dataclasses import dataclass
from pathlib import Path

POOLS_FILE = Path(__file__).resolve().with_name("pools.json")

# chsql statements that create, fill, change or drop catalog objects
_DDL_DML = re.compile(
    r"\b(CREATE|INSERT|ALTER|DROP|TRUNCATE|RENAME|DELETE|UPDATE|OPTIMIZE|ATTACH|DETACH|"
    r"EXCHANGE|SYSTEM|BACKUP|RESTORE|GRANT|REVOKE)\b"
)

# the small relational operators registered one query each
SINGLETONS = (
    "cube_", "distinct_", "explode_", "extremes_", "fill_", "full_", "join_", "numbers_",
    "read_", "rollup_", "sample_", "semi_", "smj_", "summap_", "theta_", "trivial_", "values_",
)


def is_ddl_dml(qdef) -> bool:
    """True when the builder's code (docstring aside) issues DDL or DML."""
    src = inspect.getsource(qdef.builder)
    return bool(_DDL_DML.search(src.replace(qdef.builder.__doc__ or "", "")))


def family(name: str, qdef) -> str | None:
    """The family of a registered query, as the workloads name them."""
    if re.match(r"q\d+_", name):
        return "tpch"
    if name.startswith(SINGLETONS):
        return "relational"
    prefix = name.split("_", 1)[0]
    if prefix == "chsql":
        return "chsql_ddl" if is_ddl_dml(qdef) else "chsql_read"
    return prefix


@dataclass(frozen=True)
class Workload:
    name: str
    families: tuple[str, ...]
    # statements in one sequence: enough for a stable median, few enough
    # that their output check, warm-up and a timed pass fit a run
    bands: int


# Analyst SQL with no Python exec node and no catalog change: bound by
# per-statement rewrite, view registration, Catalyst and job scheduling.
SQL_INTERACTIVE = Workload(
    name="sql_interactive",
    families=("tpch", "ssb", "op", "win", "set", "cbo", "dict", "fn", "agg", "relational",
              "chsql_read"),
    bands=12,
)

# Python Arrow kernels, eager driver-side builders and persists, next to
# table writes, streaming micro-batches, external sources and DDL/DML that
# read back what they wrote: every mechanism sql_interactive bypasses.
KERNELS_INGEST = Workload(
    name="kernels_ingest",
    families=("beh", "ml", "bitmap", "llm", "ann", "mm", "write", "stream", "source", "mv",
              "idx", "chsql_ddl"),
    # its statements take some 2.5 times as long to check as sql_interactive's
    bands=10,
)

WORKLOADS = {w.name: w for w in (SQL_INTERACTIVE, KERNELS_INGEST)}


def load() -> dict:
    """pools.json: {workload: {"statements": {name: {"family", "ref_ms"}},
    "excluded": {name: reason}}}."""
    return json.loads(POOLS_FILE.read_text())


def bands(statements: dict[str, dict], n: int) -> list[list[str]]:
    """The statements ranked by reference time, cut into n bands."""
    ranked = sorted(statements, key=lambda s: (statements[s]["ref_ms"], s))
    return [ranked[i * len(ranked) // n:(i + 1) * len(ranked) // n] for i in range(n)]


def draw(statements: dict[str, dict], n_bands: int, seed: int) -> list[str]:
    """The run's statement sequence: one statement of each band, in
    seeded order.  The same seed yields the same sequence."""
    rng = random.Random(seed)
    seq = [rng.choice(band) for band in bands(statements, n_bands)]
    rng.shuffle(seq)
    return seq


def missing(names, registered) -> list[str]:
    """Names that `all_queries()` does not register."""
    return [n for n in names if n not in registered]
