"""Seeded price_zone arrival generator with per-file expectations.

Each arrival is one CSV in the reference's five-column staging layout
(co_nbr, supc, prc_zone, cust_nbr, eff_from_dttm). Violations are confined
to a seeded subset of "dirty" opcos plus one inactive opco per file, because
the pipeline quarantines whole opcos: a uniform violation rate would
quarantine every opco and the run would raise NoValidRecordsError. Every
file therefore carries at least one clean opco.

The generator is pure Python so the benchmark's own tests can run it
without Spark; ``recount`` re-derives the expectations from the file text
with an independent implementation of the nine price_zone rules.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field
from datetime import datetime

HEADER = "co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm"
INACTIVE_OPCO = "900"
_VIOLATIONS = ("supc_alpha", "zone_range", "bad_date", "cust_long")


@dataclass(frozen=True)
class ArrivalSpec:
    """What one workload's arrivals look like; every count is fixed per
    workload so that each seed gives the same amount of work."""

    files: int
    full_files: int  # full exports among ``files``; the rest are partial
    rows_per_file: int
    clean_per_file: int  # active opcos with no violation (loaded)
    dirty_per_file: int  # active opcos with violations (quarantined)
    n_active_opcos: int
    n_dirty_opcos: int


@dataclass
class Arrival:
    name: str
    text: str
    file_type: str  # 'partial' | 'full'
    total: int
    valid: int
    invalid: int
    invalid_opcos: list[str]
    loaded_opcos: list[str]
    rows_by_opco: dict[str, int] = field(default_factory=dict)  # loaded only


def active_opcos(spec: ArrivalSpec) -> list[str]:
    return [f"{i:03d}" for i in range(1, spec.n_active_opcos + 1)]


def _row(rng: random.Random, opco: str, violation: str | None) -> str:
    supc = str(rng.randint(1, 999_999_999))
    zone = str(rng.randint(1, 5))
    cust = str(rng.randint(1, 99_999_999_999_999))
    date = (
        f"20{rng.randint(10, 29)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    )
    if violation == "supc_alpha":
        supc = supc[:-1] + "X"
    elif violation == "zone_range":
        zone = str(rng.choice([0, 6, 9]))
    elif violation == "bad_date":
        date = date[:5] + "13" + date[7:]
    elif violation == "cust_long":
        cust = "1" * 15
    return f"{opco},{supc},{zone},{cust},{date}"


def generate(spec: ArrivalSpec, seed: int, prefix: str = "arrival") -> list[Arrival]:
    """The seed fixes the dirty opcos, which files are full exports, and
    each file's opcos, rows and violations.

    Full exports only take clean opcos that no earlier full export in the
    same list took: a second full export into a non-empty FUTURE table is a
    policy rejection, not a load the benchmark wants to time.
    """
    rng = random.Random(seed)
    opcos = active_opcos(spec)
    dirty = sorted(rng.sample(opcos, spec.n_dirty_opcos))
    clean = [o for o in opcos if o not in dirty]
    full_at = set(rng.sample(range(1, spec.files), spec.full_files))
    full_done: set[str] = set()
    out = []
    for i in range(spec.files):
        is_full = i in full_at
        pool = [o for o in clean if not (is_full and o in full_done)]
        if len(pool) < spec.clean_per_file:
            raise ValueError(f"{spec} has too few clean opcos for its full exports")
        file_clean = sorted(rng.sample(pool, spec.clean_per_file))
        file_dirty = sorted(rng.sample(dirty, spec.dirty_per_file))
        if is_full:
            full_done.update(file_clean)
        file_opcos = file_clean + file_dirty
        # the inactive opco gets ~2% of rows, at least one
        n_inactive = max(1, spec.rows_per_file // 50)
        owners = [INACTIVE_OPCO] * n_inactive + [
            file_opcos[j % len(file_opcos)] for j in range(spec.rows_per_file - n_inactive)
        ]
        rng.shuffle(owners)
        # each dirty opco gets violations in ~2% of its rows, at least one
        bad_rows = {}
        for o in file_dirty:
            idx = [j for j, w in enumerate(owners) if w == o]
            for j in rng.sample(idx, max(1, len(idx) // 50)):
                bad_rows[j] = rng.choice(_VIOLATIONS)
        lines = [HEADER] + [_row(rng, w, bad_rows.get(j)) for j, w in enumerate(owners)]
        rows_by_opco = {o: owners.count(o) for o in file_clean}
        valid = sum(rows_by_opco.values())
        out.append(
            Arrival(
                name=f"{prefix}_{i:04d}.csv",
                text="\n".join(lines) + "\n",
                file_type="full" if is_full else "partial",
                total=len(owners),
                valid=valid,
                invalid=len(owners) - valid,
                invalid_opcos=sorted([INACTIVE_OPCO, *file_dirty]),
                loaded_opcos=file_clean,
                rows_by_opco=rows_by_opco,
            )
        )
    return out


def expected_tables(arrivals: list[Arrival]) -> dict[str, dict[str, int]]:
    """Row counts the versioned catalog must hold after loading ``arrivals``
    in order: {'ACTIVE': {opco: rows}, 'FUTURE': {opco: rows}}.

    Partial loads write ACTIVE, and FUTURE too once FUTURE is non-empty;
    full exports write FUTURE only (no full export is in flight while a
    partial loads, because the benchmark loads one file at a time).
    """
    active: dict[str, int] = {}
    future: dict[str, int] = {}
    for a in arrivals:
        for o, n in a.rows_by_opco.items():
            if a.file_type == "full":
                future[o] = future.get(o, 0) + n
            else:
                active[o] = active.get(o, 0) + n
                if future.get(o):
                    future[o] += n
    return {"ACTIVE": active, "FUTURE": future}


_DATE = re.compile(
    r"^([0-9]{4})-(1[0-2]|0[1-9])-(3[01]|0[1-9]|[12][0-9]) "
    r"(2[0-3]|[01][0-9]):([0-5][0-9]):([0-5][0-9])(.([0-9])+)?$"
)


def _row_ok(opco: str, supc: str, zone: str, cust: str, date: str, active: set) -> bool:
    return (
        opco in active
        and supc.isdigit()
        and cust.isdigit()
        and zone.isdigit()
        and len(supc) <= 9
        and len(cust) <= 14
        and 1 <= int(zone) <= 5
        and bool(_DATE.match(date))
        and _parses(date)
    )


def _parses(date: str) -> bool:
    try:
        datetime.strptime(date.split(".")[0], "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return False
    return True


def recount(text: str, active: list[str]) -> dict:
    """Expectations re-derived from a CSV's text alone."""
    rows = [ln.split(",") for ln in text.splitlines()[1:] if ln]
    act = set(active)
    bad = {r[0] for r in rows if not _row_ok(*r, act)}
    by_opco: dict[str, int] = {}
    for r in rows:
        if r[0] not in bad:
            by_opco[r[0]] = by_opco.get(r[0], 0) + 1
    valid = sum(by_opco.values())
    return {
        "total": len(rows),
        "valid": valid,
        "invalid": len(rows) - valid,
        "invalid_opcos": sorted(bad),
        "loaded_opcos": sorted(by_opco),
        "rows_by_opco": by_opco,
    }
